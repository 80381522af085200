package graft.core

import org.apache.spark.sql.SparkSession

/** Engine session tuning: the session-wide confs the engine sets on top
  * of Spark's defaults (applied by [[Session]]).
  *
  * AQE partition coalescing stays stock (`minPartitionSize` 1 MiB): the
  * CPU-heavy per-series operators get their parallelism from pinned
  * exchanges (`core/Grouped.pinned`, the pinned pair-join inputs), since
  * a lower session-wide floor blew up the many-stage queries 4-8x under
  * contention at 32 cores (OPTIMIZATION_r19.md §1).
  */
object EngineTuning {

  def conf: Map[String, String] = Map(
    // The engine's bit-exactness contract makes every oracle-checked
    // float sum an ORDERED fold (core/Folds: aggregate over
    // array_sort(collect_list(...))) — a typed-buffer aggregate that
    // plans as ObjectHashAggregate. Stock Spark falls that operator
    // back to SORT-based aggregation after only 128 distinct keys per
    // task (spark.sql.objectHashAggregate.sortBased.fallbackThreshold),
    // so every fold-heavy stage (BM25 scoring, graph contribution
    // sums, LOF reach folds) was paying a full per-task sort of its
    // input (r19 profile: `numTasksFallBacked` on every such stage).
    // 4096 keeps realistic per-(query,doc)/per-node group counts in
    // the hash path; per-key buffers stay bounded by the operators'
    // own contracts (salt buckets cap fold width, top-k caps lists),
    // so the memory exposure is keys×boundedList — the same order the
    // sort path buffers anyway. Results are identical by construction:
    // every collect_list here is sorted before folding.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      sys.env.getOrElse("SPARK_GRAFT_OBJAGG_FALLBACK", "4096"))

  /** Apply the tuning confs to a builder (chainable). */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
