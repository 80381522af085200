package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the one ordered-fold definition (core/Folds): the same bits on
  * any partitioning, equal to a plain Scala left fold in (ord, v)
  * order — and that no other file spells the fold or the millisecond
  * sort out again. */
class FoldsSpec extends SparkSpec {

  // magnitudes spread over 12 decades, so a different summation order
  // changes the last bits; ords repeat, so the value breaks ties
  private val rows = {
    val rng = new scala.util.Random(7)
    (0 until 600).map { i =>
      (s"k${i % 5}", rng.nextInt(40).toLong,
        rng.nextGaussian() * math.pow(10, rng.nextInt(12)))
    }
  }

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  test("orderedSum and inOrder give the left fold's bits on any partitioning") {
    import spark.implicits._
    val expected = rows.groupBy(_._1).map { case (k, rs) =>
      k -> bits(rs.map(r => (r._2, r._3)).sorted.foldLeft(0.0)(_ + _._2))
    }
    for (parts <- Seq(1, 4); seed <- Seq(1, 2)) {
      val df = new scala.util.Random(seed).shuffle(rows)
        .toDF("k", "ord", "v").repartition(parts)
      val got = df.groupBy("k")
        .agg(Folds.orderedSum(col("ord"), col("v")).as("s"),
          Folds.inOrder(col("ord"), col("v")).as("xs"))
        .collect()
      assert(got.length == expected.size)
      got.foreach { r =>
        val k = r.getString(0)
        assert(bits(r.getDouble(1)) == expected(k), s"orderedSum $k @ $parts")
        val xs = r.getSeq[Double](2)
        assert(bits(xs.foldLeft(0.0)(_ + _)) == expected(k),
          s"inOrder $k @ $parts")
      }
    }
  }

  test("meanStd is the two-pass mean and std, NULL where avg/stddev are") {
    import spark.implicits._
    val (mu, pop) = Folds.meanStd(col("xs"), 0)
    val (_, samp) = Folds.meanStd(col("xs"), 1)
    val got = Seq(("a", Seq(Some(2.0), None, Some(4.0), Some(9.0))),
        ("one", Seq(Some(5.0))), ("none", Seq(None)))
      .toDF("k", "xs")
      .select(col("k"), mu.as("mu"), pop.as("pop"), samp.as("samp"))
      .collect().map(r => r.getString(0) -> r).toMap
    val m = (2.0 + 4.0 + 9.0) / 3
    val ss = Seq(2.0, 4.0, 9.0).map(x => (x - m) * (x - m)).sum
    assert(got("a").getDouble(1) == m)
    assert(got("a").getDouble(2) == math.sqrt(ss / 3))
    assert(got("a").getDouble(3) == math.sqrt(ss / 2))
    assert(got("one").getDouble(2) == 0.0 && got("one").isNullAt(3))
    assert((1 to 3).forall(got("none").isNullAt))
  }

  test("no file outside core/Folds spells the fold or a millisecond sort") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val offenders =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val rel = root.relativize(f).toString.replace('\\', '/')
          val src = java.nio.file.Files.readString(f).replaceAll("\\s", "")
          val fold = rel != "graft/core/Folds.scala" &&
            src.contains("collect_list(struct(")
          val millis = "sortBy\\([^)]*\\.getTime".r.findFirstIn(src).nonEmpty
          (if (fold) Seq(s"$rel: collect_list(struct(") else Nil) ++
            (if (millis) Seq(s"$rel: sortBy(... .getTime)") else Nil)
        }.toSeq.sorted
      finally files.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
