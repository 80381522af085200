package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Folds

/** Distribution-drift tests: each stratum's value distribution against
  * the union of all other strata ("vs rest", the L41 KL monitor's
  * convention), as a relation.
  *
  * Two faces with an explicit exact/scalable split:
  *
  *  - [[ksDrift]] — the EXACT two-sample Kolmogorov–Smirnov statistic
  *    (Smirnov 1939): sup over the pooled support of |F_s − F_rest|.
  *    Exact ECDFs need per-stratum cumulative counts over the sorted
  *    distinct values — an inherently sort-based O(V log V) analysis
  *    (one window pass partitioned by stratum), the same lower bound
  *    any engine pays. The exact-analysis face.
  *  - [[binnedDrift]] — PSI (population stability index, the
  *    industry-standard credit-scoring drift score) plus a binned KS
  *    bound on a FIXED equi-width grid. State is (strata × bins)
  *    counts: map-side combinable, mergeable by addition (the same
  *    increment shape as the L66 histogram sketch), no sort anywhere —
  *    the 100 TB production path. `ks_binned ≤ ks_exact` always (the
  *    sup is taken over the coarser set of bin edges).
  *
  * Determinism: ECDF values are ratios of exact integer counts; diffs,
  * abs and max of identical doubles are engine-reproducible, and the
  * PSI sum is a bin-ordered fold (house float-sum convention). Outputs
  * are rounded (9 digits KS, 6 PSI) to keep the oracle hash stable.
  */
object Drift {

  /** Exact per-stratum two-sample KS vs rest.
    *
    * Returns one row per stratum with `n_points` (non-null values in
    * the stratum) and `ks_vs_rest`. Strata whose complement is empty
    * (single-stratum input) are omitted — F_rest is undefined there.
    *
    * Plan: one (stratum, value) count aggregate; the distinct-value
    * relation crossed with the broadcast stratum list; a left join back
    * to the counts; ONE window pass (partitioned by stratum, ordered by
    * value) producing both cumulative counts; a final per-stratum max
    * that rides the window's partitioning.
    */
  def ksDrift(df: DataFrame, stratum: String, value: String): DataFrame = {
    val rows = df.select(col(stratum).cast("string").as("__s"),
        col(value).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__s").isNotNull)
    val cnt = rows.groupBy("__s", "__v").agg(count(lit(1)).as("__cs"))
    // value totals across all strata (the pooled support)
    val vt = cnt.groupBy("__v").agg(sum("__cs").as("__cv"))
    val st = cnt.groupBy("__s").agg(sum("__cs").as("__ns"))
    val tot = st.agg(sum("__ns").as("__n"))
    val grid = vt.crossJoin(broadcast(st.select("__s").distinct()))
    val j = grid.join(cnt, Seq("__s", "__v"), "left")
      .withColumn("__cs", coalesce(col("__cs"), lit(0L)))
    val w = Window.partitionBy("__s").orderBy("__v")
    j.withColumn("__cums", sum("__cs").over(w))
      .withColumn("__cuma", sum("__cv").over(w))
      .join(broadcast(st), Seq("__s"))
      .crossJoin(broadcast(tot))
      .filter(col("__n") > col("__ns")) // rest must be non-empty
      .withColumn("__d", abs(
        col("__cums").cast("double") / col("__ns") -
          (col("__cuma") - col("__cums")).cast("double") /
            (col("__n") - col("__ns"))))
      .groupBy(col("__s").as(stratum))
      .agg(max("__ns").as("n_points"),
        round(max("__d"), 9).as("ks_vs_rest"))
  }

  /** Mergeable (stratum, bin) counts on a fixed equi-width grid over
    * [lo, hi) — values clamped to the edge bins (the L66 histogram
    * convention). The sketch relation: merge = `groupBy(stratum, bin)
    * .sum(cnt)`, so shards/streams union before the finisher. */
  def binCountsByStratum(df: DataFrame, stratum: String, value: String,
                         bins: Int, lo: Double, hi: Double): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    require(hi > lo, s"hi=$hi must be > lo=$lo")
    df.select(col(stratum).cast("string").as("stratum"),
        col(value).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("stratum").isNotNull)
      .withColumn("bin",
        graft.core.Quantiles.binExpr(col("__v"), lo, hi, bins))
      .groupBy("stratum", "bin").agg(count(lit(1)).as("cnt"))
  }

  /** Finisher over any union of [[binCountsByStratum]] increments:
    * per-stratum PSI (bin-ordered fold over Laplace-smoothed bin
    * probabilities, `(c+1)/(n+B)` — the L41 grid convention) and the
    * binned KS bound (raw cumulative proportions, no smoothing) vs
    * rest. Strata with an empty complement are omitted. */
  def binnedDriftFromCounts(countsIn: DataFrame, bins: Int): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val counts = countsIn.groupBy(col("stratum").as("__s"),
        col("bin").as("__b"))
      .agg(sum("cnt").as("__c"))
      .localCheckpoint() // one strata×B relation shared by the totals
    val spark = countsIn.sparkSession
    val grid = broadcast(counts.select("__s").distinct()
      .crossJoin(spark.range(bins).select(col("id").as("__b"))))
    val full = grid.join(counts, Seq("__s", "__b"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val bTot = full.groupBy("__b").agg(sum("__c").as("__bt"))
    val sTot = full.groupBy("__s").agg(sum("__c").as("__st"))
    val gTot = bTot.agg(sum("__bt").as("__gt"))
    val w = Window.partitionBy("__s").orderBy("__b")
    full.join(broadcast(bTot), Seq("__b"))
      .join(broadcast(sTot), Seq("__s"))
      .crossJoin(broadcast(gTot))
      .filter(col("__gt") > col("__st")) // rest must be non-empty
      .withColumn("__p", (col("__c") + 1).cast("double") /
        (col("__st") + lit(bins)))
      .withColumn("__q",
        (col("__bt") - col("__c") + 1).cast("double") /
          (col("__gt") - col("__st") + lit(bins)))
      .withColumn("__t", (col("__p") - col("__q")) *
        log(col("__p") / col("__q")))
      .withColumn("__d", abs(
        sum("__c").over(w).cast("double") / col("__st") -
          (sum(col("__bt") - col("__c")).over(w)).cast("double") /
            (col("__gt") - col("__st"))))
      .groupBy(col("__s").as("stratum"))
      .agg(max("__st").as("n_points"),
        round(Folds.orderedSum(col("__b"), col("__t")), 6)
          .as("psi_vs_rest"),
        round(max("__d"), 9).as("ks_binned"))
  }

  /** One-shot convenience: [[binCountsByStratum]] → [[binnedDriftFromCounts]]. */
  def binnedDrift(df: DataFrame, stratum: String, value: String,
                  bins: Int, lo: Double, hi: Double): DataFrame =
    binnedDriftFromCounts(
      binCountsByStratum(df, stratum, value, bins, lo, hi), bins)
}
