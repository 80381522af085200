package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Machine check for the cache-release contract: every iterative
  * graph operator materializes its result and releases ALL of its
  * round state before returning, so repeated invocations in one
  * session (a bench runs each query 4+ times) accumulate NOTHING.
  *
  * Two observables. The CacheManager: a `Dataset.persist` registers
  * there, a strong reference the ContextCleaner can never collect
  * (before commit 90f8ff5 the final round's state leaked one entry per
  * invocation). And the persisted RDDs: `Checkpoints.fresh` keeps round
  * state in checkpointed RDDs, which stay cached until released or
  * garbage-collected, so every RDD persisted during the calls must be
  * gone afterwards except the output's own checkpoint.
  *
  * `sharedState`/`cacheManager` are private[sql], reached by
  * reflection (Scala package-private is public bytecode) — this is a
  * test-only read of a stable internal boolean, not a product
  * dependency.
  */
class CacheHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def cacheManagerIsEmpty: Boolean = {
    val ss = spark.getClass.getMethod("sharedState").invoke(spark)
    val cm = ss.getClass.getMethod("cacheManager").invoke(ss)
    cm.getClass.getMethod("isEmpty").invoke(cm)
      .asInstanceOf[Boolean]
  }

  test("iterative graph operators leave the CacheManager empty " +
      "after repeated invocations") {
    spark.catalog.clearCache()
    assert(cacheManagerIsEmpty, "precondition: cache cleared")
    val nodes = (0L to 30L).toDF("id")
    val edges = (0L until 30L).map(i => (i, (i * 7 + 1) % 31))
      .toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val outs = (1 to 2).flatMap { _ =>
      Seq(
        graft.graph.PageRank.pageRank(nodes, "id", edges, "src", "dst",
          iters = 3),
        graft.graph.Hits.hits(nodes, "id", edges, "src", "dst",
          iters = 3),
        graft.graph.Communities.minLabelPropagation(nodes, "id", edges,
          "src", "dst", rounds = 3),
        graft.graph.Communities.minLabelPropagation(nodes, "id", edges,
          "src", "dst", rounds = 40, earlyStop = true),
        graft.llm.Dedup.resolveComponents(nodes.toDF("id"),
          edges.select(col("src").as("id_a"), col("dst").as("id_b")),
          "id"))
    }
    outs.foreach(_.collect())
    assert(cacheManagerIsEmpty,
      "an iterative operator left persisted round state in the " +
        "CacheManager — release the final round after materializing")
    // each output is one localCheckpoint over one RDD
    val outputRdds = outs.map(_.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get).toSet
    val left = sc.getPersistentRDDs.keySet -- before -- outputRdds
    assert(left.isEmpty, s"persisted RDDs ${left.toSeq.sorted} outlived " +
      "their call — release every checkpoint after materializing")
  }
}
