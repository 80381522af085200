package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r19 pinned-parallelism grouping helper (core/Grouped):
  * the column-keyed grouping must be EQUIVALENT to groupByKey(lambda)
  * in groups and group contents, while its one exchange is the
  * explicit REPARTITION_BY_NUM form AQE never coalesces, sized to the
  * stock shuffle parallelism. These are the invariants every pinned
  * model fit (StlExact, Bsts, GP, S-H-ESD, SPC, ...) relies on; the
  * per-series entry adds the one order each series is folded in. */
class GroupedSpec extends SparkSpec {

  private def sample = {
    import spark.implicits._
    (1 to 100).map(i => (s"k${i % 7}", i.toLong, i * 0.5))
      .toDF("sk", "ord", "v")
      .as[(String, Long, Double)]
  }

  test("pinned grouping reproduces groupByKey's groups exactly") {
    import spark.implicits._
    val ds = sample
    val viaLambda = ds.groupByKey(_._1)
      .mapGroups { (k, it) =>
        (k, it.toArray.sortBy(_._2).map(_._3).sum)
      }.collect().sortBy(_._1)
    val viaPinned = Grouped
      .pinned[String, (String, Long, Double)](ds, col("sk"))
      .mapGroups { (k, it) =>
        (k, it.toArray.sortBy(_._2).map(_._3).sum)
      }.collect().sortBy(_._1)
    assert(viaPinned.toSeq == viaLambda.toSeq)
  }

  test("pin sets the stock partition count and keeps keys clustered") {
    val n = Grouped.pinnedPartitions(sample)
    // max(shuffle.partitions=2, defaultParallelism=2) on the test session
    assert(n == math.max(2, spark.sparkContext.defaultParallelism))
    val pinned = Grouped.pin(sample, Seq("sk"))
    assert(pinned.rdd.getNumPartitions == n)
    // every key lives in exactly one partition (hash-clustered)
    val spread = pinned.rdd
      .mapPartitionsWithIndex((p, it) => it.map(r => (r._1, p)))
      .collect().groupBy(_._1).values.map(_.map(_._2).distinct.size)
    assert(spread.forall(_ == 1))
  }

  test("pinned exchange is REPARTITION_BY_NUM (AQE-proof), no second exchange") {
    import spark.implicits._
    val plan = Grouped
      .pinned[String, (String, Long, Double)](sample, col("sk"))
      .mapGroups((k, it) => (k, it.size))
      .queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"))
    // exactly ONE exchange in the whole plan: the grouping rides it
    assert("Exchange".r.findAllIn(plan).size == 1)
  }

  test("series: one exchange, no window, full ts order") {
    import spark.implicits._
    val t = Seq("2024-01-01 00:00:00", "2024-01-01 00:00:00.000001",
      "2024-01-01 00:00:00.000002").map(java.sql.Timestamp.valueOf)
    // out of order on purpose: a NULL ts, a µs tie-break inside one
    // millisecond, and a duplicate ts that only the value orders
    val df = Seq(("a", t(2), 3.0), ("a", t(1), 2.0), ("a", null, 9.0),
        ("b", t(0), 5.0), ("a", t(0), 1.0), ("a", t(1), 1.5))
      .toDF("sk", "ts", "v")
    val fits = Grouped.series(df, "sk", "ts", "v") { (sk, ts, v) =>
      Iterator((sk, ts.map(String.valueOf).mkString(","), v.mkString(",")))
    }
    val plan = fits.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"))
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Window"), plan)
    val got = fits.collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("a", s"null,${t(0)},${t(1)},${t(1)},${t(2)}", "9.0,1.0,1.5,2.0,3.0"),
      ("b", s"${t(0)}", "5.0")))
  }
}
