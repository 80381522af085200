package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Round state for ITERATIVE DataFrame loops (PageRank, HITS, label
  * propagation, connected components).
  *
  * Two faults of plain `localCheckpoint` shape this:
  *  - It carries the original plan's `Statistics` onto the resulting
  *    `LogicalRDD`. In a loop where round t's plan joins round t−1's
  *    checkpoint, the carried `sizeInBytes` MULTIPLIES through
  *    Catalyst's `SizeInBytesOnlyStatsPlanVisitor` every round:
  *    measured, its bit-length doubles per round (23 bits → 237,000
  *    bits in 14 rounds on a 10-row toy), and around round ~25 any
  *    stats consumer (`InjectRuntimeFilter.canBroadcastBySize`, join
  *    selection) dies with `ArithmeticException: BigInteger would
  *    overflow supported range`.
  *  - Under AQE it records `UnknownPartitioning`: the adaptive root does
  *    not expose its final partitioning. A loop whose edges and node
  *    state were hash-partitioned before the checkpoint then re-shuffles
  *    both sides of every join, every round.
  *
  * [[fresh]] pins the frame to the session's shuffle partition count,
  * hash-partitioned on the state's key (`repartition(n, key)`: no
  * exchange at all when the plan is already so partitioned, and AQE may
  * not coalesce the final stage away from it), materializes it once,
  * and rebuilds it over the checkpointed RDD with that partitioning and
  * the measured size (`org.apache.spark.sql.graft.RoundState`). Every
  * checkpoint of one
  * loop shares the key's partition count, so a join of edges keyed on
  * src with node state keyed on id is co-partitioned: a round plans one
  * exchange, its messages keyed on dst. Nothing compounds across rounds,
  * and AQE chooses broadcasts from the measured sizes.
  *
  * The checkpointed RDD is cached by the block manager, not the
  * CacheManager. [[release]] unpersists it once its round is superseded
  * (and the loop-invariant ones once the operator's output is
  * materialized), so repeated calls leave no blocks behind.
  */
object Checkpoints {

  /** Checkpoint `df` hash-partitioned on `key`, sized by its measured
    * row count instead of carried statistics. Eager: it runs the job
    * that materializes the frame. */
  def fresh(df: DataFrame, key: String): DataFrame =
    org.apache.spark.sql.graft.RoundState.checkpoint(df, key)

  /** Unpersist the checkpointed RDD behind a frame [[fresh]] returned
    * (non-blocking). A no-op on any derived frame, so a projection of
    * loop-invariant state can never release it by accident. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case _ => ()
  }

  /** Whether a frame over checkpointed state has no rows, in ONE job
    * over every partition: `Dataset.isEmpty` scans partitions in
    * growing batches (a job per batch), and `count()` plans an
    * exchange (two jobs under AQE). For plans without an exchange, such
    * as a filter over a [[fresh]] frame. */
  def isEmpty(df: DataFrame): Boolean = df.queryExecution.toRdd.count() == 0

  /** Run `body` with `label` (`"<op>:<phase>:<iter>"`) as the job
    * description of every job it starts, then restore the previous
    * description. The job group is left alone: a caller's tracer may
    * own it. */
  def labeled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }
}
