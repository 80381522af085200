package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Folds

/** Okapi BM25 ranked retrieval (Robertson et al., TREC-3 1994; the
  * `ln(1 + ...)` idf floor is Lucene's non-negative variant) — the
  * lexical search face of the corpus: decontamination triage
  * ("which training docs does this benchmark question retrieve?"),
  * nearest-neighbor text lookup next to the embedding ANN tier, and
  * the standard sparse baseline any retrieval eval needs.
  *
  *   score(q,d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *   idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
  *
  * Architecture is the inverted-index shape: the postings (doc, term,
  * tf, dl) are built inside the scan stage — each document's sorted
  * token array is cut into runs of equal terms, one (term, run length)
  * row per run, with dl = the token count — the 1-row corpus stats
  * (N, avgdl) ride a broadcast, the query terms
  * join the postings on the term key (broadcast when the query set is
  * small — the planner sees its size), and the per-(query,doc) sum
  * folds the per-term contributions IN TERM ORDER
  * (`core.Folds.orderedSum(term, contrib)`),
  * so the float sum is engine-reproducible bit-for-bit — the
  * q_perplexity convention, mirrored in the oracle's
  * `list_reduce(list(... ORDER BY term))`.
  *
  * At 100 TB: the postings build needs NO shuffle (tf never crosses
  * documents, so it is a per-row computation, and dl is a projection
  * of the same row); corpus stats (N, avgdl) are a scan-side
  * single-partition fold over `documents` (dl ≡ token count, a
  * projection — no postings re-derivation); document frequency is
  * computed only for terms the query set mentions (broadcast
  * LEFT SEMI prefilter on the postings, then one term-keyed window
  * count over the surviving query-term postings — never the whole
  * vocabulary); the candidate fan-out is bounded by Σ_t df(t) over
  * QUERY terms only — never a corpus cross product; the final top-k
  * window partitions by query. */
object Bm25 {

  /** The (doc_id, term, tf, dl) postings relation + the 1-row
    * (n_docs, avgdl) stats — the shared index both [[topK]] and
    * [[rm3TopK]]'s feedback stage consume. NULL-text docs produce no
    * postings (explode(split(NULL)) drops the row), so they must not
    * count in n_docs/avgdl either: one filtered corpus feeds postings
    * AND stats, keeping idf consistent with the oracle's dl-derived
    * population. dl is the document's token count, projected on each
    * of its postings rows. */
  private[llm] def postingsAndStats(docs: DataFrame, docId: String,
      textCol: String): (DataFrame, DataFrame) = {
    val corpus = docs.filter(col(textCol).isNotNull)
    // per-doc term frequencies computed INSIDE the scan stage: sort
    // the token array, find run starts, emit (term, run length) pairs
    // — O(L log L) per document, zero shuffle. The former
    // explode-all-tokens + groupBy(doc_id, term) shape paid a
    // postings-sized exchange AND a pathological hash aggregate (r19
    // profile: avgHashProbe=320, ~5 s aggTime at sf0.1) for values
    // that are a per-ROW property: tf never crosses documents. Same
    // (doc_id, term, tf, dl) relation, bit-identical values (integer
    // counts). `try_element_at` everywhere: 1-based, NULL (never an
    // ANSI error) out of bounds — the k+1 lookup past the last run
    // start feeds the final run's length via coalesce(n+1).
    val toks = split(col(textCol), " ")
    val st = col("__st"); val n = col("__n"); val starts = col("__starts")
    val tf = corpus.select(col(docId).as("doc_id"),
        size(toks).cast("long").as("dl"), array_sort(toks).as("__st"))
      .withColumn("__n", size(st))
      .withColumn("__starts", filter(sequence(lit(1), n),
        i => i === 1 ||
          try_element_at(st, i) =!= try_element_at(st, i - 1)))
      .select(col("doc_id"), col("dl"),
        explode(transform(sequence(lit(1), size(starts)),
          k => struct(
            try_element_at(st, try_element_at(starts, k)).as("term"),
            (coalesce(try_element_at(starts, k + 1), n + 1) -
              try_element_at(starts, k)).cast("long").as("tf"))))
          .as("__p"))
      .select(col("doc_id"), col("__p.term").as("term"),
        col("__p.tf").as("tf"), col("dl"))
    // (n_docs, avgdl) from the raw scan: avg token count ≡ avg dl
    val stats = corpus.agg(count(lit(1)).as("n_docs"),
      avg(size(split(col(textCol), " ")).cast("long")).as("avgdl"))
    (tf, stats)
  }

  /** Top-k docs per query by BM25. `queries` is (queryId, textCol);
    * scores are rounded to 6 digits and ranked (score desc, doc_id
    * asc) on the ROUNDED value — the q_tfidf ranking convention. */
  def topK(docs: DataFrame, queries: DataFrame, docId: String,
           queryId: String, textCol: String, k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (tf, stats) = postingsAndStats(docs, docId, textCol)
    topKWith(tf, stats, queries, queryId, textCol, k, k1, b)
  }

  /** [[topK]] over a PRECOMPUTED (and possibly checkpointed) postings
    * relation — lets multi-pass callers (RM3) pay the corpus
    * tokenization once. */
  private[llm] def topKWith(tf: DataFrame, stats: DataFrame,
      queries: DataFrame, queryId: String, textCol: String, k: Int,
      k1: Double, b: Double): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val qterms = queries.select(col(queryId).as("query_id"),
        explode(split(col(textCol), " ")).as("term"))
      .distinct()
    // postings restricted to query terms BEFORE any term-keyed work:
    // left-semi against the (small, by contract) raw query-term list —
    // no distinct pass needed, semi joins don't duplicate
    val tfq = tf.join(
      broadcast(queries.select(
        explode(split(col(textCol), " ")).as("term"))),
      Seq("term"), "left_semi")
    // df per query term as a whole-partition window count over the
    // filtered postings: one term-keyed exchange of data the contrib
    // join carries anyway — a groupBy+join-back would re-derive the
    // postings (column pruning defeats exchange reuse) and pay two
    val wTerm = Window.partitionBy("term")
    val tfqd = tfq.withColumn("df", count(lit(1)).over(wTerm))
    val idf: Column = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfPart: Column =
      col("tf").cast("double") * (lit(k1) + lit(1.0)) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * col("dl").cast("double") / col("avgdl")))
    val contribs = tfqd.join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("term"),
        (idf * tfPart).as("contrib"))
    val scored = contribs.groupBy("query_id", "doc_id")
      .agg(round(Folds.orderedSum(col("term"), col("contrib")), 6)
        .as("bm25"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** RM3-style pseudo-relevance feedback (Lavrenko–Croft relevance
    * models, the Anserini/Indri default expansion): run BM25, take the
    * top `fbDocs` documents per query, weight their terms by
    * `Σ_d tf(t,d)/dl(d)` (a doc-ordered fold — the simplified
    * deterministic relevance-model estimate), keep the `fbTerms` best
    * NON-query terms (weight desc, term asc), append them to the query
    * and score again. Recall goes up where the vocabulary gap between
    * query and relevant docs hurts plain BM25.
    *
    * Both BM25 passes are [[topK]] itself (same rounded-rank
    * convention); the feedback stage adds one doc-keyed join against
    * the tf relation and one query-keyed rank window — all bounded by
    * queries × fbDocs upstream. */
  def rm3TopK(docs: DataFrame, queries: DataFrame, docId: String,
              queryId: String, textCol: String, k: Int,
              fbDocs: Int = 3, fbTerms: Int = 5,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1, s"fbDocs=$fbDocs must be >= 1")
    require(fbTerms >= 1, s"fbTerms=$fbTerms must be >= 1")
    // tokenize + aggregate the corpus ONCE; the checkpointed postings
    // serve both BM25 passes and the feedback stage (without this the
    // dominant split/explode/groupBy cost is paid three times)
    val (tf0, stats) = postingsAndStats(docs, docId, textCol)
    val tf = tf0.localCheckpoint()
    val first = topKWith(tf, stats, queries, queryId, textCol, fbDocs,
      k1, b)
    val fbw = first.select("query_id", "doc_id")
      .join(tf, Seq("doc_id"))
      .select(col("query_id"), col("term"), col("doc_id"),
        (col("tf").cast("double") / col("dl").cast("double"))
          .as("__w"))
      .groupBy("query_id", "term")
      .agg(Folds.orderedSum(col("doc_id"), col("__w")).as("__w"))
    val qterms = queries.select(col(queryId).as("query_id"),
        explode(split(col(textCol), " ")).as("term"))
      .distinct()
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("__w").desc, col("term").asc)
    val expansion = fbw
      .join(qterms, Seq("query_id", "term"), "left_anti")
      .withColumn("__rk", row_number().over(wRank))
      .filter(col("__rk") <= fbTerms)
    val expText = expansion.groupBy("query_id")
      .agg(concat_ws(" ", array_sort(collect_list("term")))
        .as("__ext"))
    val q2 = queries.select(col(queryId).as("query_id"), col(textCol))
      .join(expText, Seq("query_id"), "left")
      .select(col("query_id").as(queryId),
        when(col("__ext").isNotNull,
          concat_ws(" ", col(textCol), col("__ext")))
          .otherwise(col(textCol)).as(textCol))
    topKWith(tf, stats, q2, queryId, textCol, k, k1, b)
  }
}
