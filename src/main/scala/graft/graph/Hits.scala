package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, Folds}

/** HITS — hubs & authorities (Kleinberg, JACM 1999) as a DataFrame
  * power iteration: the query-independent companion to PageRank for
  * link-graph curation (an authority is pointed to by good hubs; a hub
  * points to good authorities — crawl seeding wants hubs, quality
  * weighting wants authorities).
  *
  * Per iteration: auth(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v}
  * auth(v) using the UPDATED authorities (the standard sequential
  * update). Normalization happens ONCE at the end, by the MAXIMUM
  * score: every pass is a linear map, so per-pass scalar
  * normalization only rescales the vector — the end-normalized result
  * is exactly proportional (HitsSpec pins it against a per-pass-
  * normalized recompute) — and skipping it saves an action + global
  * aggregate per pass. Unnormalized scores grow like
  * (max degree)^(2·iters) — fine at the default iters=5 for any
  * physical graph (d^10 > 1e308 needs d > 1e30), but iters is
  * caller-controlled, so [[hits]] measures the max degree and
  * REQUIRES 2·iters·ln(maxDeg) < 600, failing loudly instead of
  * silently normalizing Inf/Inf to NaN. Max (not an L2 norm) because
  * max is an order-independent exact aggregate — a float-sum norm
  * would need a GLOBAL ordered fold, a single-partition collect of
  * the whole node set. Scores land in [0, 1] with the top
  * hub/authority pinned at exactly 1.0.
  *
  * Determinism + skew safety (shared with [[PageRank]]): both
  * contribution sums are TWO-LEVEL ordered folds — salt-bucketed
  * partial sums in neighbor order, then the ≤ `saltBuckets` subtotals
  * merged in bucket order — so the result is independent of
  * partitioning and no aggregation buffer ever holds more than
  * max(degree/S, S) entries even on a power-law hub. Mid-iteration
  * score relations carry only nodes with a NONZERO score (absent =
  * 0.0; a zero contribution is exact under IEEE addition, so the
  * folds are unchanged) — the full node set joins back once at the
  * end, zero-coalesced.
  *
  * Edge hygiene matches PageRank: duplicates and self-loops dropped.
  * Isolated or un-pointed-to nodes keep score 0 (no damping mass in
  * HITS).
  */
object Hits {

  /** Run `iters` HITS iterations. Output: (id, authority, hub). */
  def hits(nodes: DataFrame, id: String, edges: DataFrame,
           src: String, dst: String, iters: Int,
           saltBuckets: Int = 64): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(saltBuckets >= 1, s"saltBuckets=$saltBuckets must be >= 1")
    val spark = nodes.sparkSession
    def label[T](phase: String, i: Int)(body: => T): T =
      Checkpoints.labeled(spark, s"hits:$phase:$i")(body)
    val nd = label("nodes", 0)(Checkpoints.fresh(
      nodes.select(col(id).cast("long").as("__id")).distinct(), "__id"))
    // TWO checkpointed edge copies, hash-partitioned on the pass key
    // (the relational analogue of keeping src- and dst-sorted
    // adjacency lists): the auth pass joins on __src, the hub pass on
    // __dst, so NEITHER pass ever re-shuffles the edges — only its
    // messages move (one exchange per pass). eS dedups after its
    // __src exchange (hash(__src) clusters every (__src, __dst) key),
    // so it shuffles once; eD derives from the materialized eS, so the
    // distinct runs once; its columns are
    // re-aliased so a plan may reference BOTH copies without exprId
    // conflicts (a checkpoint keeps its output attribute ids).
    val eS = label("edges_src", 0)(Checkpoints.fresh(
      edges.select(col(src).cast("long").as("__src"),
          col(dst).cast("long").as("__dst"))
        .filter(col("__src") =!= col("__dst") &&
          col("__src").isNotNull && col("__dst").isNotNull)
        .repartition(col("__src")).distinct(), "__src"))
    val eD = label("edges_dst", 0)(Checkpoints.fresh(
      eS.select(col("__src").as("__src"), col("__dst").as("__dst")),
      "__dst"))
    // overflow guard for the no-per-pass-normalization design:
    // unnormalized scores grow at most like (max degree)^(2·iters)
    // (each pass multiplies the max score by at most the max in/out
    // degree), so require 2·iters·ln(maxDeg) under ln(DoubleMax) with
    // margin — beyond it scores reach Infinity and the end
    // normalization silently yields NaN (Inf/Inf). maxDeg = the max
    // over BOTH directions in ONE direction-tagged aggregate off the
    // already-materialized eS (r15 ran two separate jobs here).
    // Callers hitting this need per-pass rescaling semantics, which
    // would change the float contract — fail loudly instead.
    val maxDeg = label("max_degree", 0)(
      eS.select(col("__src").as("__k"), lit(0).as("__d"))
        .unionAll(eS.select(col("__dst").as("__k"), lit(1).as("__d")))
        .groupBy("__k", "__d").count()
        .agg(coalesce(max("count"), lit(0L))).head().getLong(0))
    require(2.0 * iters * math.log(math.max(maxDeg, 2L).toDouble) < 600.0,
      s"iters=$iters with max degree $maxDeg can overflow the " +
        "unnormalized double scores (bound: 2*iters*ln(maxDeg) < 600); " +
        "reduce iters")
    // one two-level-fold pass: scores keyed `fromCol` fold into
    // `toCol` groups in from-order (only nonzero-score nodes present).
    // The plan is LAZY here — the caller decides where the checkpoint
    // barrier lands. The explicit toCol repartition is the pass's one
    // exchange and feeds BOTH fold levels (hash(to) satisfies the
    // (to, salt) and (to) groupings); its output, renamed to __id,
    // stays keyed on __id, so the next pass joins it without an
    // exchange. shuffle_hash keeps the edges side unsorted
    def pass(scores: DataFrame, eDir: DataFrame, fromCol: String,
             toCol: String): DataFrame =
      eDir.join(scores.hint("shuffle_hash"),
          eDir(fromCol) === scores("__id"))
        .select(col(toCol), col(fromCol),
          pmod(col(fromCol), lit(saltBuckets.toLong)).as("__sb"),
          col("__score").as("__s"))
        .repartition(col(toCol))
        .groupBy(col(toCol), col("__sb"))
        .agg(Folds.orderedSum(col(fromCol), col("__s")).as("__ps"))
        .groupBy(col(toCol))
        .agg(Folds.orderedSum(col("__sb"), col("__ps")).as("__score"))
        .withColumnRenamed(toCol, "__id")
    // the initial hubs are a projection of the __id-keyed node set,
    // not a checkpoint of their own
    var hub = nd.select(col("__id"), lit(1.0).as("__score"))
    // FUSED iteration (r16): the intermediate authorities of a
    // non-final iteration are consumed exactly once — by the same
    // iteration's hub pass — so the auth pass inlines into the hub
    // checkpoint's plan: identical exchanges and identical float folds
    // (HitsSpec pins the values), HALF the materialization barriers.
    // One stats-safe checkpoint per iteration keeps lineage flat.
    // r18: up to TWO fused iterations (four passes) per barrier — the
    // r16 adjudication already established the BARRIERS, not the
    // exchanges, are this loop's fixed cost; the second iteration adds
    // only its own joins/folds to the same plan (identical expressions,
    // identical ordered folds → identical doubles; HitsSpec pins them),
    // and the stats-safe checkpoint still truncates lineage at depth ≤ 2
    // iterations.
    var t = 0
    while (t < iters - 1) {
      val prevHub = hub
      var cur = pass(pass(hub, eS, "__src", "__dst"), eD, "__dst", "__src")
      var done = 1
      if (t + 2 <= iters - 1) {
        cur = pass(pass(cur, eS, "__src", "__dst"), eD, "__dst", "__src")
        done = 2
      }
      hub = label("round", t)(Checkpoints.fresh(cur, "__id"))
      Checkpoints.release(prevHub)
      t += done
    }
    // final iteration: the auth pass is needed for the output, so it
    // gets its own barrier before the last hub pass
    val auth = label("auth", iters - 1)(Checkpoints.fresh(
      pass(hub, eS, "__src", "__dst"), "__id"))
    val lastHub = hub
    hub = label("hub", iters - 1)(Checkpoints.fresh(
      pass(auth, eD, "__dst", "__src"), "__id"))
    Checkpoints.release(lastHub)
    // end normalization over the full node set, zero-coalesced — both
    // sides in ONE pass (one join chain + one two-max aggregate, where
    // r15 ran the chain per side and joined the results). All three are
    // checkpoints keyed on __id, so the shuffle_hash joins need no
    // exchange where broadcasts would each add a job.
    val full = nd
      .join(auth.withColumnRenamed("__score", "__as").hint("shuffle_hash"),
        Seq("__id"), "left")
      .join(hub.withColumnRenamed("__score", "__hs").hint("shuffle_hash"),
        Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("__as"), lit(0.0)).as("__ra"),
        coalesce(col("__hs"), lit(0.0)).as("__rh"))
    val mx = full.agg(max("__ra").as("__ma"), max("__rh").as("__mh"))
    // materialize the result, then release every checkpoint of this
    // call
    val out = label("output", 0)(full.crossJoin(broadcast(mx))
      .select(col("__id").as(id),
        when(col("__ma") > 0.0, col("__ra") / col("__ma"))
          .otherwise(lit(0.0)).as("authority"),
        when(col("__mh") > 0.0, col("__rh") / col("__mh"))
          .otherwise(lit(0.0)).as("hub"))
      .localCheckpoint())
    Seq(auth, hub, eD, eS, nd).foreach(Checkpoints.release)
    out
  }
}
