package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap}
import org.apache.spark.sql.catalyst.plans.logical.{RepartitionByExpression, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** The Spark-internal half of `graft.core.Checkpoints.fresh`: it lives
  * in an `org.apache.spark.sql` package because `classic.Dataset.ofRows`
  * is `private[sql]`.
  *
  * `localCheckpoint` under AQE records `UnknownPartitioning` (the
  * adaptive root does not expose its final partitioning) and carries
  * the plan's estimated statistics. [[checkpoint]] pins the frame to
  * the session's shuffle partition count, hash-partitioned on `key`
  * (the count an unnumbered `repartition(col)` or a join's exchange
  * gets, so the pin adds no exchange where the plan is already so
  * partitioned, and AQE may not coalesce the final stage away from
  * it), materializes it once, and rebuilds it as a `LogicalRDD` over
  * the same checkpointed RDD that instead carries
  *  - `HashPartitioning(key)` at the RDD's partition count, kept only
  *    when the final executed plan guarantees it;
  *  - the MEASURED size: rows counted by the materializing job times
  *    the row width, never an estimate derived from the inputs'.
  */
object RoundState {

  def checkpoint(df: DataFrame, key: String): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val pinned = df.repartition(
      session.sessionState.conf.numShufflePartitions, col(key))
    val rel = pinned.localCheckpoint(eager = false).queryExecution.analyzed
      .collectFirst { case r: LogicalRDD => r }.get
    val rows = rel.rdd.count()
    val finalPlan = pinned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val want = HashPartitioning(pinned.queryExecution.analyzed
      .asInstanceOf[RepartitionByExpression].partitionExpressions,
      rel.rdd.getNumPartitions)
    // the executed plan may name a column by an exprId the optimizer
    // chose (a redundant alias removed); its output lines up with the
    // frame's by position
    val rename = AttributeMap(finalPlan.output.zip(rel.output))
    def guarantees(p: Partitioning): Boolean = p match {
      case c: PartitioningCollection => c.partitionings.exists(guarantees)
      case h: HashPartitioning =>
        h.transform { case a: Attribute => rename.getOrElse(a, a) }
          .semanticEquals(want)
      case _ => false
    }
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(rel.output) * rows)
    classic.Dataset.ofRows(session,
      LogicalRDD(rel.output, rel.rdd,
        if (guarantees(finalPlan.outputPartitioning)) want
        else UnknownPartitioning(0),
        Nil, isStreaming = false)(session, Some(stats), None))
  }
}
