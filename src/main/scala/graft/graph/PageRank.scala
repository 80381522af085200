package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * already hash-partitioned on src (localCheckpoint preserves the
  * physical partitioning — the in-engine analogue of a src-bucketed
  * edge table), and the N-row state relation carries (rank, out-mass)
  * per node. Per iteration: one co-partitioned equi-join (only the
  * nodes-sized state shuffles; the edges never move again), ONE
  * edges-sized exchange on dst feeding BOTH levels of the contribution
  * fold (hash(dst) satisfies the (dst, salt) and (dst) groupings), and
  * a co-partitioned update join against the once-checkpointed
  * hash(id)-partitioned node state — the Pregel message-passing shape
  * with the minimum movable volume. Each step's rank relation is
  * checkpointed to break the 10-deep lineage (without this the plan
  * doubles per iteration). At 100 TB scale the same loop holds with
  * the edge table bucketed by src; the rank table is nodes-sized,
  * orders of magnitude smaller than edges.
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

  /** Source-ordered float fold (the shared house convention). */
  private def orderedSum(ord: org.apache.spark.sql.Column,
                         v: org.apache.spark.sql.Column) =
    graft.core.Folds.orderedSum(ord, v)

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
    val ndPlain = nodes.select(col(id).cast("long").as("__id"))
      .distinct()
    // nd carries the per-node teleport mass __p: uniform 1/N, or
    // 1/|S| on the seed set and 0 elsewhere (personalized)
    val nd = (resetTo match {
      case None => ndPlain
      case Some(seedsDf) =>
        val seedCol = seedsDf.columns.head
        val seeds = seedsDf
          .select(col(seedCol).cast("long").as("__id")).distinct()
          .join(ndPlain, Seq("__id"))
          .withColumn("__seed", lit(1))
          .localCheckpoint()
        val sCount = seeds.count()
        require(sCount >= 1,
          "resetTo must intersect the node set in at least one id")
        ndPlain.join(seeds, Seq("__id"), "left")
          .withColumn("__p",
            when(col("__seed").isNotNull,
              lit(1.0) / lit(sCount)).otherwise(lit(0.0)))
          .drop("__seed")
    }).localCheckpoint()
    val e0 = edges.select(col(src).cast("long").as("__src"),
        col(dst).cast("long").as("__dst"),
        weight.map(w => col(w).cast("double")).getOrElse(lit(1.0))
          .as("__w"))
      .filter(col("__src") =!= col("__dst") &&
        col("__src").isNotNull && col("__dst").isNotNull)
    val e = weight match {
      case None =>
        e0.select("__src", "__dst").distinct()
      case Some(_) =>
        e0.filter(col("__w") > 0.0).distinct()
    }
    // the edge relation is checkpointed ALREADY HASH-PARTITIONED on
    // __src (localCheckpoint preserves physical partitioning), so the
    // per-iteration contribution join never re-shuffles the edges —
    // only the nodes-sized rank state moves. Out-mass __deg rides the
    // NODE state instead of being denormalized onto every edge row
    // (r14 carried it edge-wide: 8·|E| bytes re-scanned per step).
    val eP = e.repartition(col("__src")).localCheckpoint()
    // out-mass per source: the exact count (unweighted) or the
    // dst-ordered fold of weights (deterministic under any
    // partitioning; exact when weights are integer-valued); scans the
    // checkpointed edges, already grouped by their partitioning key
    val deg = weight match {
      case None =>
        eP.groupBy("__src").agg(count(lit(1)).as("__deg"))
      case Some(_) =>
        eP.groupBy("__src")
          .agg(orderedSum(col("__dst"), col("__w")).as("__deg"))
    }
    val n = ndPlain.count()
    // the uniform path keeps the ORIGINAL literal expressions so the
    // pre-personalization results stay bit-identical
    val base = resetTo match {
      case None => lit(1.0 - damping) / lit(n)
      case Some(_) => lit(1.0 - damping) * col("__p")
    }
    val contribOf = (rank: org.apache.spark.sql.Column,
                     w: org.apache.spark.sql.Column,
                     d: org.apache.spark.sql.Column) =>
      weight match {
        case None => rank / d
        case Some(_) => rank * w / d
      }
    // loop-invariant node state (teleport mass __p + out-mass __deg),
    // hash-partitioned on __id and checkpointed ONCE: the update join
    // below is then co-partitioned with the __dst-keyed contribution
    // aggregate — zero node-side exchange inside the loop
    val ndState = nd
      .join(deg.withColumnRenamed("__src", "__id"), Seq("__id"), "left")
      .repartition(col("__id")).localCheckpoint()
    var ranks = resetTo match {
      case None =>
        ndState.select(col("__id"), (lit(1.0) / lit(n)).as("__rank"),
          col("__deg"))
      case Some(_) =>
        ndState.select(col("__id"), col("__p").as("__rank"),
          col("__deg"))
    }
    def step(cur: DataFrame): DataFrame = {
      // two-level fold: salt-bucket partial ordered sums (buffer ≤
      // indeg/S per group even on a hub), then the ordered merge of
      // the ≤ S subtotals. The explicit __dst repartition feeds BOTH
      // aggregates (hash(__dst) satisfies each grouping) — one
      // exchange where the r14 shape paid two; the shuffle_hash hint
      // keeps the edges side unsorted (SMJ would sort |E| rows per
      // step to join a nodes-sized build side).
      val contrib = eP
        .join(cur.hint("shuffle_hash"), eP("__src") === cur("__id"))
        .select(col("__dst"), col("__src"),
          contribOf(col("__rank"), col("__w"), col("__deg")).as("__c"),
          pmod(col("__src"), lit(saltBuckets.toLong)).as("__sb"))
        .repartition(col("__dst"))
        .groupBy("__dst", "__sb")
        .agg(orderedSum(col("__src"), col("__c")).as("__ps"))
        .groupBy("__dst")
        .agg(orderedSum(col("__sb"), col("__ps")).as("__cs"))
      ndState
        .join(contrib.hint("shuffle_hash"),
          ndState("__id") === contrib("__dst"), "left")
        .select(col("__id"),
          (base + lit(damping) * coalesce(col("__cs"), lit(0.0)))
            .as("__rank"),
          col("__deg"))
    }
    for (_ <- 0 until iters) {
      // one step per checkpointed round: the r19 A/B measured fused
      // two-step rounds flat at bench scale (6.11 s vs 6.22 s solo), so
      // the simpler round with half the plan depth per checkpoint stays.
      // Stats-safe checkpoint: plain localCheckpoint carries the
      // round's multiplied sizeInBytes forward and compounds it
      // across iterations (core/Checkpoints.scala). The eager
      // checkpoint materializes the new round (scanning the previous
      // ranks' cache), after which the superseded round is released.
      val prev = ranks
      ranks = graft.core.Checkpoints.fresh(step(ranks))
      graft.core.Checkpoints.release(prev)
    }
    // materialize the result, then release the final round's cached
    // state — repeated invocations in one session leave no CacheManager
    // entries behind (the plain edge/node-state localCheckpoints are
    // RDD-cached only and reclaimed by the ContextCleaner on scope exit)
    val out = ranks
      .select(col("__id").as(id), col("__rank").as("pagerank"))
      .localCheckpoint()
    graft.core.Checkpoints.release(ranks)
    out
  }
}
