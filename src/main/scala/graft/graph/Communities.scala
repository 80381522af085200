package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Checkpoints

/** Community detection by synchronous MIN-LABEL propagation ("hash-min"
  * LPA — the deterministic variant of Raghavan 2007's label
  * propagation, and the per-round step of the Rastogi 2013 hash-min
  * connected-components family): every node starts as its own label,
  * and each round adopts the minimum label in its closed undirected
  * neighborhood:
  *
  *   l_0(v) = v;  l_{t+1}(v) = min(l_t(v), min_{u ~ v} l_t(u))
  *
  * After R rounds l(v) is EXACTLY the minimum node id within
  * undirected distance R of v — bounded rounds give distance-R
  * community cores (what a dedup/link-farm triage actually wants:
  * tight rings collapse onto one label in 1–2 rounds while a long
  * chain stays split), and R ≥ diameter converges to connected
  * components, the [[graft.llm.Dedup.resolveComponents]] answer by a
  * different route (that one pointer-jumps in O(log d) rounds; this
  * one is the bounded-radius read). All-integer min — associative,
  * commutative, partition-order-independent: no float-fold convention
  * needed anywhere.
  *
  * Distribution shape (the [[PageRank]] loop discipline): the
  * symmetric adjacency is checkpointed ONCE, hash-partitioned on src,
  * and the label state keyed on id, both through
  * [[graft.core.Checkpoints.fresh]], so the message join and the label
  * update are co-partitioned and a round's one exchange is the
  * hash(dst) messages, with map-side partial min (a real combiner —
  * unlike the ordered float folds, min collapses on the map side).
  * Round state rides the same checkpoint, so lineage and carried stats
  * never compound.
  */
object Communities {

  /** Run `rounds` min-label steps over the undirected closure of
    * `edges` (self-loops dropped, duplicates collapsed). Output:
    * (id, community) — community = min id within distance `rounds`.
    *
    * `earlyStop = true` terminates as soon as a round changes ZERO
    * labels (one nodes-sized scan of the already-cached round state —
    * no extra join), which at `rounds ≥ diameter + 1` yields the
    * fixed-point: bit-identical to the fixed-R output for any larger
    * R, and equal to [[graft.llm.Dedup.resolveComponents]]'s
    * components (CommunitiesSpec pins both equalities). The default
    * stays fixed-R so bounded-radius reads are reproducible.
    *
    * The output is materialized (eager final checkpoint; in fixed-R
    * mode the last round is that checkpoint) before every checkpoint
    * of the call is released, so repeated invocations in one session
    * leave no cached blocks behind. */
  def minLabelPropagation(nodes: DataFrame, id: String,
                          edges: DataFrame, src: String, dst: String,
                          rounds: Int,
                          earlyStop: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val spark = nodes.sparkSession
    def label[T](phase: String, i: Int)(body: => T): T =
      Checkpoints.labeled(spark, s"communities:$phase:$i")(body)
    // the symmetric closure, hash-partitioned on __src: both directions
    // of each edge in one pass, one exchange, the distinct after it
    // (hash(__src) clusters every (__src, __dst) key)
    val adj = label("edges", 0)(Checkpoints.fresh(
      edges.select(col(src).cast("long").as("__a"),
          col(dst).cast("long").as("__b"))
        .filter(col("__a") =!= col("__b") &&
          col("__a").isNotNull && col("__b").isNotNull)
        .select(explode(array(
          struct(col("__a").as("__src"), col("__b").as("__dst")),
          struct(col("__b").as("__src"), col("__a").as("__dst"))))
          .as("__e"))
        .select("__e.*")
        .repartition(col("__src")).distinct(), "__src"))
    // round state carries (__id, __lbl, __chg): __chg marks whether
    // THIS round lowered the label, so convergence is a filter over
    // the checkpointed state, not a self-join against the previous round
    var state = label("nodes", 0)(Checkpoints.fresh(
      nodes.select(col(id).cast("long").as("__id")).distinct()
        .select(col("__id"), col("__id").as("__lbl"), lit(true).as("__chg")),
      "__id"))
    def step(cur: DataFrame): DataFrame = {
      val labels = cur.select("__id", "__lbl")
      // groupBy DIRECTLY (no explicit repartition): min partially
      // aggregates map-side, so the round's one hash(dst) exchange
      // moves per-partition minima, not raw messages — the opposite
      // call from the PageRank fold, whose ordered fold has no
      // map-side reduction to preserve
      val msgs = adj
        .join(labels.hint("shuffle_hash"),
          adj("__src") === labels("__id"))
        .select(col("__dst"), col("__lbl").as("__in"))
        .groupBy("__dst").agg(min("__in").as("__nm"))
      labels.join(msgs.hint("shuffle_hash"),
          labels("__id") === msgs("__dst"), "left")
        .select(col("__id"),
          least(col("__lbl"), coalesce(col("__nm"), col("__lbl")))
            .as("__lbl"),
          (coalesce(col("__nm"), col("__lbl")) < col("__lbl"))
            .as("__chg"))
    }
    var t = 0
    var converged = false
    while (t < rounds - 1 && !converged) {
      val prev = state
      state = label("round", t)(Checkpoints.fresh(step(state), "__id"))
      Checkpoints.release(prev)
      if (earlyStop)
        converged = label("converged", t)(
          Checkpoints.isEmpty(state.filter(col("__chg"))))
      t += 1
    }
    // the last round, unless an early stop made it unnecessary, is
    // checkpointed as the output itself; then every checkpoint of this
    // call is released
    def output(df: DataFrame): DataFrame =
      df.select(col("__id").as(id), col("__lbl").as("community"))
        .localCheckpoint()
    val out =
      if (converged) label("output", 0)(output(state))
      else label("round", t)(output(step(state)))
    Seq(state, adj).foreach(Checkpoints.release)
    out
  }
}
