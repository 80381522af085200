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
  *
  * Generated code is compiled once per JVM and then reused:
  *  - `spark.sql.codegen.cache.maxEntries = 1024`. Spark's LRU of
  *    compiled classes holds 100 by default, but the engine's working
  *    set is larger: one perfbench pass generates 397 distinct classes
  *    on `nab_fleet` and 208 on `iterative` (558 and 273 with stage ids
  *    in the class names). With 100 entries a repeated plan found none
  *    of its classes and recompiled them all, 616 Janino compiles in a
  *    `nab_fleet` pass, about a third of its CPU. A static conf: read
  *    once per JVM when `CodeGenerator` first initializes, which is
  *    after [[Session]] built the session. Cost: none measurable in
  *    Metaspace (174 -> 172 MB used after a `nab_fleet` pass).
  *  - `spark.sql.codegen.useIdInClassName = false`. A whole-stage class
  *    is named `GeneratedIteratorForCodegenStage<N>`, and AQE renumbers
  *    stages when it re-plans, so a class identical but for `<N>` missed
  *    the cache. Without the id the twins are one entry.
  * Together they cut `nab_fleet`'s timed pass from 11.4 to 7.0 s and
  * its compiles from 616 to 3 (BENCH_NOTES, "Codegen cache"); either
  * alone gains less.
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
      sys.env.getOrElse("SPARK_GRAFT_OBJAGG_FALLBACK", "4096"),
    // the codegen cache above the engine's working set (see the scaladoc)
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    // a stage AQE renumbers reuses its class (see the scaladoc)
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Apply the tuning confs to a builder (chainable). */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
