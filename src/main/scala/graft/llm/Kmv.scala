package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KMV — k-minimum-values distinct-count sketch (Bar-Yossef et al.
  * RANDOM 2002; Beyer et al. SIGMOD 2007 unbiased estimator) — the
  * mergeable approximate-distinct summary a 100 TB engine needs where
  * exact `COUNT(DISTINCT)` would shuffle the full key set: keep the k
  * smallest hash values per group; with U_(k) the k-th smallest as a
  * fraction of the hash space, D̂ = (k−1)/U_(k).
  *
  * DETERMINISTIC twist (the library's oracle contract): the hash is
  * the engine-portable q_rollhash polynomial, not a seeded murmur —
  * any engine computes the identical sketch, so the estimate itself
  * is oracle-checkable, not just "approximately right". The sketch is
  * the set of k smallest DISTINCT hash values (KMV is defined on the
  * hash set, so collisions collapse — part of the estimator's ε).
  *
  * KNOWN BIAS — short tokens: the (k−1)/U_(k) estimator assumes
  * uniformly distributed hashes, but the rolling polynomial maps
  * 1-char tokens into [0, 127] and 2-char tokens into [0, ~1.3e8]
  * (~6% of the 2³¹ space), so a vocabulary dominated by very short
  * tokens concentrates small hash values and the estimate
  * OVERESTIMATES the distinct count (roughly by the inverse of the
  * occupied hash-space fraction; KmvSpec pins the effect). Tokens of
  * ≥ 5 chars mix past the modulus and behave uniformly. The portable
  * hash is kept anyway because cross-engine oracle-checkability is
  * this library's contract; callers sketching short-key domains
  * should pre-mix keys (e.g. `xxhash64`, giving up the SQL oracle) or
  * treat the estimate as an upper bound.
  *
  * Plan shape: the sketch leg is a TRUE partial aggregate
  * ([[graft.functions.KmvAgg]], a `TypedImperativeAggregate`): each
  * map task reduces its partition to ≤k minima per group before the
  * exchange, so the shuffle carries k longs per (partition, group)
  * instead of the full distinct hash set — the mergeability win that
  * makes KMV an approximate-distinct at 100 TB. (The `exact_distinct`
  * reference column still pays the exact-distinct exchange; it exists
  * only as the accuracy yardstick and is not part of the scale path.) */
object Kmv {

  private val HashMod = 2147483647L // the portable polynomial's modulus

  /** Per-group sketch + estimate over the distinct values of `value`:
    * (group, n_sketch, kth_frac, est_distinct, exact_distinct).
    * When a group has fewer than k distinct hashes the sketch IS the
    * exact answer (est = n_sketch). `exact_distinct` (distinct raw
    * values) rides along as the accuracy reference. */
  def distinctSketch(df: DataFrame, group: String, value: String,
                     k: Int): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    // exact leg skips NULLs, matching both the sketch leg and the SQL
    // count(DISTINCT value) convention — an all-null group reports
    // exact_distinct=0 (left join + coalesce keeps its row)
    val hashed = df.select(col(group),
      col(value).cast("string").as("__v"))
    val exact = hashed.filter(col("__v").isNotNull).distinct()
      .groupBy(group).agg(count(lit(1)).as("exact_distinct"))
    sketchOnly(df, group, value, k).join(exact, Seq(group), "left")
      .select(col(group), col("n_sketch"), col("kth_frac"),
        col("est_distinct"),
        coalesce(col("exact_distinct"), lit(0L)).as("exact_distinct"))
  }

  /** The production path: sketch + estimate WITHOUT the exact
    * reference — the whole plan is ONE partial-aggregated exchange
    * carrying ≤k minima per (partition, group) (PlanSpec-pinned),
    * which is the entire point of KMV at 100 TB. Returns
    * (group, n_sketch, kth_frac, est_distinct); an all-null group
    * keeps its row with n_sketch 0 / null kth_frac / est 0. */
  def sketchOnly(df: DataFrame, group: String, value: String,
                 k: Int): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    df.select(col(group),
        TextAnalysis.rollingHash(col(value).cast("string")).as("__h"))
      .groupBy(group)
      .agg(call_function("kmv_minima", col("__h"), lit(k)).as("__mins"))
      .select(col(group),
        size(col("__mins")).cast("long").as("n_sketch"),
        // guard the all-null group: an empty sketch has no k-th value
        // (element_at index 0 would throw under ANSI)
        when(size(col("__mins")) > 0,
          element_at(col("__mins"), size(col("__mins"))).cast("double")
            / lit(HashMod.toDouble)).as("kth_frac"))
      .withColumn("est_distinct",
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("kth_frac")))
  }
}
