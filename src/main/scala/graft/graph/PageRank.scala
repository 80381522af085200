package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, Folds}

/** PageRank (Brin & Page 1998) as a DataFrame power iteration — the
  * link-graph authority score a crawl pipeline uses to prioritize its
  * frontier and weight domain quality (the "link graph" stage of
  * web-corpus curation next to the L74 URL hygiene tier).
  *
  * Formulation: fixed `iters` power-iteration steps of
  *
  *   r_{t+1}(v) = (1−d)/N + d · Σ_{u→v} r_t(u) / outdeg(u)
  *
  * over the DISTINCT self-loop-free edge set. Nodes without out-links
  * simply drop their mass (no dangling redistribution — the variant is
  * documented and oracle-mirrored; rank sums stay ≤ 1 and equal 1 on
  * dangling-free graphs).
  *
  * Distribution shape: the edge relation is checkpointed ONCE,
  * hash-partitioned on src, and the N-row node state (seed flag,
  * out-mass) once, hash-partitioned on id, both through
  * [[graft.core.Checkpoints.fresh]], which keeps that partitioning on
  * the checkpoint (a plain `localCheckpoint` under AQE does not). Per
  * iteration the contribution join of edges and ranks and the update
  * join of node state and contributions are co-partitioned, so the one
  * exchange is the edges-sized messages keyed on dst, which feeds BOTH
  * levels of the contribution fold (hash(dst) satisfies the (dst, salt)
  * and (dst) groupings) — the Pregel message-passing shape with the
  * minimum movable volume (GraphPlanShapeSpec pins it). Each step's
  * rank relation is checkpointed the same way, keyed on id, to break
  * the 10-deep lineage (without this the plan doubles per iteration).
  * Setup is three actions: the edges, the node state, and one
  * aggregate over the node state for N and |S|. At 100 TB scale the
  * same loop holds with the edge table bucketed by src; the rank table
  * is nodes-sized, orders of magnitude smaller than edges.
  *
  * Personalization + weights (the crawl-frontier form topic-focused
  * curation actually runs): `resetTo` redirects the teleport mass to
  * a SEED node set — base mass (1−d)·p(v) with p(v) = 1/|S| on seeds
  * and 0 elsewhere, initial rank = p — so authority flows out from
  * curated seeds and unreachable nodes score exactly 0. `weight`
  * names an edge-weight column: contributions become
  * r_t(u)·w(u,v)/W(u) with W(u) the source's out-weight, itself a
  * dst-ordered fold (exact for integer-valued weights; deterministic
  * for any). The unweighted/unpersonalized path is BIT-IDENTICAL to
  * the original formulation (same expressions, not just same values).
  *
  * Determinism + hub safety: per-destination contributions are summed
  * in a TWO-LEVEL source-ordered fold (house float convention, made
  * skew-safe): level 1 groups by (dst, src % S) and folds each salt
  * bucket's contributions in src order; level 2 merges the ≤ S bucket
  * subtotals in bucket order. The result is deterministic under any
  * partitioning (both levels are total-ordered folds), and no single
  * aggregation buffer ever holds more than max(indeg/S, S) entries —
  * a 10⁹-in-link hub on a power-law web graph materializes ≤ indeg/S
  * contributions per buffer instead of its entire in-neighbor array
  * (the one-level fold's failure mode). The oracle mirrors the same
  * two-level grouping verbatim, so the doubles are bit-identical.
  * Constants are written as the literal IEEE expressions the oracle
  * uses (`1.0 − d` computed in doubles, never a decimal 0.15), and
  * the initial rank is `1.0/N` in double division.
  */
object PageRank {

  /** Run `iters` PageRank steps. `nodes` supplies the vertex set (so
    * isolated nodes keep their base mass); `edges` may contain
    * duplicates and self-loops, which are dropped first (duplicate
    * (src, dst) rows collapse; with `weight`, rows are distinct on
    * (src, dst, w) — give a multigraph unique weights or pre-sum
    * them). `saltBuckets` bounds the per-destination fold buffer (see
    * object doc); it changes float grouping, so oracle SQL must use
    * the same S. `resetTo`'s FIRST column is the seed id set
    * (intersected with `nodes`; must be non-empty after the
    * intersection). Output: (id, pagerank). */
  def pageRank(nodes: DataFrame, id: String, edges: DataFrame,
               src: String, dst: String, iters: Int,
               damping: Double = 0.85,
               saltBuckets: Int = 64,
               resetTo: Option[DataFrame] = None,
               weight: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(damping > 0.0 && damping < 1.0,
      s"damping=$damping not in (0,1)")
    require(saltBuckets >= 1, s"saltBuckets=$saltBuckets must be >= 1")
    val spark = nodes.sparkSession
    def label[T](phase: String, i: Int)(body: => T): T =
      Checkpoints.labeled(spark, s"pagerank:$phase:$i")(body)
    val e0 = edges.select(col(src).cast("long").as("__src"),
        col(dst).cast("long").as("__dst"),
        weight.map(w => col(w).cast("double")).getOrElse(lit(1.0))
          .as("__w"))
      .filter(col("__src") =!= col("__dst") &&
        col("__src").isNotNull && col("__dst").isNotNull)
    val e = weight match {
      case None => e0.select("__src", "__dst")
      case Some(_) => e0.filter(col("__w") > 0.0)
    }
    // loop-invariant edges, hash-partitioned on __src: the per-round
    // contribution join never re-shuffles them. The distinct runs after
    // the __src exchange (hash(__src) clusters every (__src, ...) key),
    // so the edges shuffle once.
    val eP = label("edges", 0)(Checkpoints.fresh(
      e.repartition(col("__src")).distinct(), "__src"))
    // out-mass per source: the exact count (unweighted) or the
    // dst-ordered fold of weights (deterministic under any
    // partitioning; exact when weights are integer-valued); the
    // checkpointed edges are already clustered on the grouping key
    val deg = weight match {
      case None =>
        eP.groupBy("__src").agg(count(lit(1)).as("__deg"))
      case Some(_) =>
        eP.groupBy("__src")
          .agg(Folds.orderedSum(col("__dst"), col("__w")).as("__deg"))
    }
    // loop-invariant node state (seed flag + out-mass __deg), keyed
    // on __id: the update join below is co-partitioned with the
    // __dst-keyed contribution aggregate. Seeds outside the node set
    // fall away in the left join. Both joins are co-partitioned on the
    // node key (the distincts' exchanges, the __src-keyed edges), so
    // the shuffle_hash hints add no exchange where a broadcast would
    // add a job.
    val nd = nodes.select(col(id).cast("long").as("__id")).distinct()
    val seeded = resetTo match {
      case None => nd.withColumn("__seed", lit(false))
      case Some(seedsDf) =>
        val seeds = seedsDf.select(col(seedsDf.columns.head).cast("long")
          .as("__id")).distinct().withColumn("__seed", lit(true))
        nd.join(seeds.hint("shuffle_hash"), Seq("__id"), "left")
          .withColumn("__seed", coalesce(col("__seed"), lit(false)))
    }
    val ndState = label("nodes", 0)(Checkpoints.fresh(
      seeded.join(deg.withColumnRenamed("__src", "__id")
        .hint("shuffle_hash"), Seq("__id"), "left"), "__id"))
    // N and |S| in one aggregate over the checkpointed node state
    val sizes = label("sizes", 0)(ndState
      .agg(count(lit(1)), count(when(col("__seed"), lit(1)))).head())
    val n = sizes.getLong(0)
    val sCount = sizes.getLong(1)
    require(resetTo.isEmpty || sCount >= 1,
      "resetTo must intersect the node set in at least one id")
    // teleport mass: uniform 1/N, or 1/|S| on the seed set and 0
    // elsewhere (personalized). The uniform path keeps the ORIGINAL
    // literal expressions so the pre-personalization results stay
    // bit-identical.
    val p = when(col("__seed"), lit(1.0) / lit(sCount)).otherwise(lit(0.0))
    val base = resetTo match {
      case None => lit(1.0 - damping) / lit(n)
      case Some(_) => lit(1.0 - damping) * p
    }
    val contribOf = (rank: org.apache.spark.sql.Column,
                     w: org.apache.spark.sql.Column,
                     d: org.apache.spark.sql.Column) =>
      weight match {
        case None => rank / d
        case Some(_) => rank * w / d
      }
    var ranks = ndState.select(col("__id"),
      (resetTo match {
        case None => lit(1.0) / lit(n)
        case Some(_) => p
      }).as("__rank"), col("__deg"))
    def step(cur: DataFrame): DataFrame = {
      // two-level fold: salt-bucket partial ordered sums (buffer ≤
      // indeg/S per group even on a hub), then the ordered merge of
      // the ≤ S subtotals. The explicit __dst repartition is the
      // round's one exchange and feeds BOTH aggregates (hash(__dst)
      // satisfies each grouping); the shuffle_hash hints keep the
      // edges side unsorted (SMJ would sort |E| rows per step to join
      // a nodes-sized build side).
      val contrib = eP
        .join(cur.hint("shuffle_hash"), eP("__src") === cur("__id"))
        .select(col("__dst"), col("__src"),
          contribOf(col("__rank"), col("__w"), col("__deg")).as("__c"),
          pmod(col("__src"), lit(saltBuckets.toLong)).as("__sb"))
        .repartition(col("__dst"))
        .groupBy("__dst", "__sb")
        .agg(Folds.orderedSum(col("__src"), col("__c")).as("__ps"))
        .groupBy("__dst")
        .agg(Folds.orderedSum(col("__sb"), col("__ps")).as("__cs"))
      ndState
        .join(contrib.hint("shuffle_hash"),
          ndState("__id") === contrib("__dst"), "left")
        .select(col("__id"),
          (base + lit(damping) * coalesce(col("__cs"), lit(0.0)))
            .as("__rank"),
          col("__deg"))
    }
    // one step per checkpointed round: fused two-step rounds were
    // flat in the r19 A/B and again on perfbench `iterative`
    // (BENCH_NOTES.md, "PageRank cadence"), so the round with half the
    // plan depth per checkpoint stays. The superseded round is
    // released once its successor is materialized.
    for (t <- 0 until iters - 1) {
      val prev = ranks
      ranks = label("round", t)(Checkpoints.fresh(step(ranks), "__id"))
      Checkpoints.release(prev)
    }
    // the last step is checkpointed as the output itself; then every
    // checkpoint of this call is released
    val out = label("round", iters - 1)(step(ranks)
      .select(col("__id").as(id), col("__rank").as("pagerank"))
      .localCheckpoint())
    Seq(ranks, ndState, eP).foreach(Checkpoints.release)
    out
  }
}
