package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranking-quality metrics — recall@k, MRR, and binary-relevance
  * nDCG@k (Järvelin & Kekäläinen TOIS 2002) — the evaluation face of
  * the retrieval tier: every ANN/BM25/fusion ranker in this library
  * is approximate or lossy somewhere (LSH banding, quantization,
  * hashing collisions), and a pipeline that ships a ranker needs the
  * ranker's quality measured next to it, as a relation, not a spec
  * assertion.
  *
  *  - recall@k  = |result top-k ∩ relevant| / |relevant|
  *  - MRR       = 1 / (rank of the first relevant hit), 0 if none
  *  - nDCG@k    = DCG@k / IDCG@k with binary gains,
  *                DCG = Σ_{relevant hits at position p ≤ k} 1/log₂(p+1)
  *
  * Both DCG folds run in POSITION ORDER over bounded lists (the
  * group's sorted rank list, left-folded by `aggregate` — the total
  * order `core.Folds` states), so the float sums are
  * engine-reproducible — the q_perplexity convention. All inputs are
  * rank tables (query_id, doc_id, rank): cardinality queries × k,
  * so every join and aggregate here is trivially bounded no matter
  * the corpus size behind the rankers. */
object RetrievalEval {

  /** Per-query metrics of `result` against the `truth` relevant set.
    * Queries are taken from `truth` (a query with no relevant docs is
    * undefined under all three metrics). Returns (query_id, n_rel,
    * recall_at_k, mrr, ndcg_at_k), unrounded. */
  def evalRanking(result: DataFrame, truth: DataFrame,
                  k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // ONE pass over the relevant set: left-join ranks onto it (a miss
    // is a null rank) and fold n_rel + hit positions in a single
    // keyed aggregate — collect_list skips nulls, so relpos is exactly
    // the ranks where a relevant doc appeared. The old two-aggregate +
    // re-join form paid an extra exchange and recomputed the truth
    // ranker's DAG twice.
    val rel = truth.select(col("query_id"), col("doc_id"))
    // rank tables are queries × k by construction — broadcast the
    // result side so the hit join is map-side and the fold can ride
    // the truth ranker's query_id partitioning
    val res = broadcast(result.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("rank")))
    val log2 = (c: org.apache.spark.sql.Column) =>
      log(c) / log(lit(2.0))
    rel.join(res, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"),
        sort_array(collect_list(col("rank"))).as("relpos"))
      .withColumn("recall_at_k",
        size(filter(col("relpos"), p => p <= k)).cast("double") /
          col("n_rel").cast("double"))
      .withColumn("mrr",
        when(size(col("relpos")) > 0,
          lit(1.0) / element_at(col("relpos"), 1).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("__dcg",
        aggregate(filter(col("relpos"), p => p <= k), lit(0.0),
          (acc, p) => acc + lit(1.0) / log2((p + 1).cast("double"))))
      .withColumn("__idcg",
        aggregate(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
          lit(0.0),
          (acc, p) => acc + lit(1.0) / log2((p + 1).cast("double"))))
      .withColumn("ndcg_at_k", col("__dcg") / col("__idcg"))
      .select(col("query_id"), col("n_rel"), col("recall_at_k"),
        col("mrr"), col("ndcg_at_k"))
  }
}
