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
  *
  * Tungsten pages are 1 MiB (`spark.buffer.pageSize`). Spark sizes them
  * from heap and cores, which gives 32 MiB at a 3 GB heap on 4 cores.
  * Every sort, hash aggregate and string-keyed broadcast relation takes
  * at least one page, however few rows it holds. At 32 MiB each page
  * is a G1 humongous object of 17 regions. A `nab_fleet` pass allocated
  * about 790 humongous regions next to about 1240 eden regions. Its one
  * young collection then found almost no free region to copy survivors
  * into: 0 to 6 regions to spare over 8 runs. Now and then it ran out
  * ("To-space exhausted"), kept whole eden regions as old, and left
  * about 1 GB after the collection instead of about 430 MB. With 1 MiB
  * pages the same pass keeps about 270 MB free at that collection, and
  * the heap after it is about 180 MB (BENCH_NOTES, "Page size"). A task
  * can hold 8192 pages at once, which is 8 GiB at this size: more than
  * the default 8 GB heap can give one task.
  */
object EngineTuning {

  def conf: Map[String, String] = Map(
    // The engine's bit-exactness contract makes every oracle-checked
    // float fold an ORDERED fold (core/Folds, the one definition: the
    // group's (ord, v) structs collected, sorted and folded by
    // `aggregate`) — a typed-buffer aggregate that plans as
    // ObjectHashAggregate. Stock Spark falls that operator
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
    "spark.sql.codegen.useIdInClassName" -> "false",
    // Tungsten pages of 1 MiB, not 32 (see the scaladoc)
    "spark.buffer.pageSize" -> "1m")

  /** Apply the tuning confs to a builder (chainable). */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
