package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Folds

/** Local Outlier Factor (Breunig et al., SIGMOD 2000) over per-series
  * (value, Δvalue) features — the density-based complement to the
  * Isolation Forest detector (same feature convention as
  * `IsolationForest.score`): a point is anomalous when its local
  * reachability density is low RELATIVE to its neighbors', which
  * catches outliers that sit inside globally dense value ranges.
  *
  * Fully RELATIONAL formulation (no per-group driver math), in two
  * faces sharing one downstream pipeline:
  *
  *  - [[lof]] — the EXACT face: the pairwise-distance self-join is
  *    keyed by series, the bounded O(n²)-per-series shape of the exact
  *    Theil–Sen pair join (q_trend). Fine on a bounded monitoring
  *    window; the shape OOMs at unbounded series length (BENCH_SCALE
  *    measured the identical form dying at length ≈1.6k on an 8g heap
  *    for exact Theil–Sen).
  *  - [[lofWindowed]] — the PRODUCTION face at scale: candidate
  *    neighbors restricted to time-lag ≤ `w`, generated WITHOUT an n²
  *    self-join via the same lag-bucket equi-join as
  *    `Trend.theilSenWindowed` — O(n·w) pair volume per series. When
  *    w ≥ n−1 every pair is a candidate and the output equals [[lof]]
  *    exactly (LofSpec pins it).
  *
  * Exactness conventions (engine-reproducible doubles):
  *  - distances use explicit `dx*dx + dy*dy` (never `pow`, which is
  *    not required to be exact for integer exponents) + IEEE sqrt;
  *  - k-distance is the k-th order statistic of the distance multiset
  *    (row_number ordered by (d, neighbor) — the VALUE is tie-stable);
  *  - the neighborhood is tie-INCLUSIVE (`d <= kdist`, so |N| ≥ k —
  *    the paper's definition);
  *  - every float aggregate is a neighbor-ordered fold (house
  *    convention), and lrd guards the duplicate-point degeneracy with
  *    `max(sum_reach, 1e-12)` mirrored verbatim in the oracle.
  *
  * Points in series with fewer than 2 rows have no neighbors and are
  * omitted; series with n ≤ k use all n−1 available neighbors.
  */
object Lof {

  /** (series, ordinal, value, Δvalue) feature frame shared by both
    * faces: __sk, __i, __x, __y. */
  private def features(df: DataFrame, series: String, order: String,
                       value: String): DataFrame = {
    val w = Window.partitionBy("__sk").orderBy("__o")
    // pinned series partitioning (Grouped.pin): one AQE-proof exchange
    // serves the feature windows AND both faces' candidate self-joins
    // (projections of this frame, co-partitioned on __sk) — the pair
    // explosion's parallelism must not be sized from its tiny INPUT
    // bytes, which is what AQE coalescing would do
    graft.core.Grouped.pin(
        df.select(col(series).cast("string").as("__sk"),
          col(order).as("__o"), col(value).cast("double").as("__x")),
        Seq("__sk"))
      .filter(col("__x").isNotNull && col("__sk").isNotNull)
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__y",
        col("__x") - coalesce(lag("__x", 1).over(w), col("__x")))
      .select("__sk", "__i", "__x", "__y")
  }

  /** Shared downstream: candidate pairs (__sk, __ia, __ib, __xa, __d)
    * → per-point LOF. One pass over the pair volume: rank within
    * (series, point) and read the k-th order statistic back with an
    * unordered window over the same partitioning (no second
    * exchange), then keep the tie-inclusive neighborhood.
    * Checkpointed: it is the bounded ~n·k relation every downstream
    * step reuses — without this the candidate join would be
    * recomputed by each of its three consumers. */
  private def lofFromPairs(pairs: DataFrame, series: String,
                           value: String, k: Int): DataFrame = {
    val rnw = Window.partitionBy("__sk", "__ia")
      .orderBy(col("__d"), col("__ib"))
    val nbr = pairs
      .withColumn("__rn", row_number().over(rnw))
      .withColumn("__kd", max(when(col("__rn") <= k, col("__d")))
        .over(Window.partitionBy("__sk", "__ia")))
      .filter(col("__d") <= col("__kd"))
      .select("__sk", "__ia", "__ib", "__xa", "__d")
      .localCheckpoint()
    // the k-th order statistic is attained inside the neighborhood,
    // so kdist(p) = max distance among p's kept neighbor rows
    val kdJ = nbr.groupBy("__sk", "__ia").agg(max("__d").as("__kdj"))
      .withColumnRenamed("__ia", "__ib")
    val lrd = nbr.join(kdJ, Seq("__sk", "__ib"))
      .withColumn("__rd", greatest(col("__kdj"), col("__d")))
      .groupBy("__sk", "__ia")
      .agg((count(lit(1)).cast("double") /
        greatest(Folds.orderedSum(col("__ib"), col("__rd")), lit(1e-12)))
        .as("__lrd"))
    val lrdJ = lrd.select(col("__sk"), col("__ia").as("__ib"),
      col("__lrd").as("__lrdj"))
    nbr.join(lrdJ, Seq("__sk", "__ib"))
      .join(lrd, Seq("__sk", "__ia"))
      .groupBy("__sk", "__ia")
      .agg(max("__xa").as("__xv"),
        (Folds.orderedSum(col("__ib"), col("__lrdj")) /
          count(lit(1)).cast("double") / max("__lrd")).as("__lof"))
      .select(col("__sk").as(series), col("__ia").as("ord"),
        col("__xv").as(value), col("__lof").as("lof"))
  }

  /** Per-point LOF over (value, Δvalue) features within each series —
    * the EXACT face (all n·(n−1) candidate pairs per series).
    *
    * Output: (series, ord, value, lof) — `ord` is the 1-based
    * timestamp ordinal within the series, `lof` the raw factor
    * (≈1 inlier, ≫1 outlier).
    */
  def lof(df: DataFrame, series: String, order: String, value: String,
          k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val pts = features(df, series, order, value)
    val a = pts.select(col("__sk"), col("__i").as("__ia"),
      col("__x").as("__xa"), col("__y").as("__ya"))
    val b = pts.select(col("__sk"), col("__i").as("__ib"),
      col("__x").as("__xb"), col("__y").as("__yb"))
    val dx = col("__xa") - col("__xb")
    val dy = col("__ya") - col("__yb")
    val pairs = a.join(b, Seq("__sk"))
      .filter(col("__ia") =!= col("__ib"))
      .withColumn("__d", sqrt(dx * dx + dy * dy))
      .select("__sk", "__ia", "__ib", "__xa", "__d")
    lofFromPairs(pairs, series, value, k)
  }

  /** Bounded-window LOF — the production form at unbounded series
    * length: each point's kNN search is restricted to neighbors
    * within time-lag ≤ `w` (the bounded-memory monitoring variant —
    * density is judged against the point's temporal locality).
    *
    * Candidate pairs are generated WITHOUT an n² self-join: each
    * point gets a lag-bucket `⌊i/w⌋`; the right-hand side is emitted
    * into its own bucket and BOTH adjacent ones, and the equi-join on
    * (series, bucket) finds every |ia−ib| ≤ w pair exactly once
    * (|ia−ib| ≤ w implies |⌊ia/w⌋ − ⌊ib/w⌋| ≤ 1, and the three
    * emitted buckets are distinct) — ≤ 3 rows per point across one
    * keyed exchange, O(n·w) candidate volume per series instead of
    * the exact face's O(n²).
    *
    * When w ≥ n−1 every pair qualifies and the output equals [[lof]]
    * exactly (LofSpec pins it). */
  def lofWindowed(df: DataFrame, series: String, order: String,
                  value: String, k: Int, w: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(w >= k, s"w=$w must be >= k=$k (a point needs k " +
      "candidates inside its lag window)")
    lofFromPairs(windowedPairs(df, series, order, value, w),
      series, value, k)
  }

  /** Lag-bucketed candidate pairs (package-visible so LofSpec can pin
    * the join's physical shape — the downstream localCheckpoint hides
    * this stage from the public face's executed plan). */
  private[models] def windowedPairs(df: DataFrame, series: String,
                                    order: String, value: String,
                                    w: Int): DataFrame = {
    val pts = features(df, series, order, value)
    val bk = floor(col("__i") / w)
    val a = pts.select(col("__sk"), col("__i").as("__ia"),
      col("__x").as("__xa"), col("__y").as("__ya"), bk.as("__bk"))
    val b = pts.select(col("__sk"), col("__i").as("__ib"),
      col("__x").as("__xb"), col("__y").as("__yb"),
      explode(array(bk - 1, bk, bk + 1)).as("__bk"))
    val dx = col("__xa") - col("__xb")
    val dy = col("__ya") - col("__yb")
    a.join(b, Seq("__sk", "__bk"))
      .filter(col("__ia") =!= col("__ib") &&
        abs(col("__ia") - col("__ib")) <= w)
      .withColumn("__d", sqrt(dx * dx + dy * dy))
      .select("__sk", "__ia", "__ib", "__xa", "__d")
  }
}
