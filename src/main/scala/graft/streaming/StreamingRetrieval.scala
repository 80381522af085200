package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming face of the retrieval tier (SURVEY L54): the production
  * shape is an inverted index BUILT IN BATCH and PERSISTED, with
  * queries arriving as a stream — the same static-side pattern as
  * [[StreamingDedup.nearDupCandidates]]'s signature table.
  *
  *  - [[buildBm25Index]] (batch, one-off): postings
  *    `(term, doc_id, tf, dl, df)` plus the two corpus scalars
  *    `(nDocs, avgdl)`. The caller persists the postings (bucketed by
  *    `term` for a co-located stream join at scale).
  *  - [[bm25TopK]] (streaming or batch): stateless stream-static
  *    equi-join of exploded query terms against the postings, then a
  *    per-query top-k fold. A query row's contribution set is complete
  *    within its own micro-batch (the static join creates no state and
  *    drops nothing), so the fold needs NO carried state — the
  *    `flatMapGroupsWithState` group step leaves its GroupState
  *    untouched and every micro-batch scores its own queries to
  *    completion. Re-issued query ids simply re-emit.
  *
  * Parity contract (StreamingSpec): identical `(query_id, doc_id,
  * bm25, rank)` rows as the batch [[graft.llm.Bm25.topK]] over the
  * same corpus — same contribution expression, same term-ordered
  * float fold, same HALF_UP round-6, same (score desc, doc_id asc)
  * rank on the rounded value. */
object StreamingRetrieval {

  /** Unsigned byte-wise comparison of UTF-8 encodings — Spark's
    * `UTF8String` binary string order, which `sort_array` uses in the
    * batch fold. */
  private val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    }
  }

  /** Persisted-index artifacts: term-keyed postings + corpus scalars.
    * `df` rides each posting row (denormalized at build time — one
    * term-keyed window pass over data the index shuffle carries
    * anyway), so query-time scoring never re-aggregates the corpus. */
  case class Bm25Index(postings: DataFrame, nDocs: Long, avgdl: Double)

  case class QueryTermHit(query_id: Long, doc_id: Long, term: String,
                          contrib: Double)
  case class RankedHit(query_id: Long, doc_id: Long, bm25: Double,
                       rank: Long)

  /** Batch index build over `docs` (docId, textCol); whitespace
    * tokenization, the [[graft.llm.Bm25]] conventions. */
  def buildBm25Index(docs: DataFrame, docId: String,
                     textCol: String): Bm25Index = {
    // NULL-text docs contribute no postings, so they don't count in
    // n/avgdl either — the [[graft.llm.Bm25]] population convention
    val corpus = docs.filter(col(textCol).isNotNull)
    val words = corpus.select(col(docId).cast("long").as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = words.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val postings = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")))
    val s = corpus.agg(count(lit(1)).as("n"),
      avg(size(split(col(textCol), " ")).cast("long")).as("avgdl"))
      .head()
    require(s.getLong(0) > 0, "cannot build a BM25 index over zero docs")
    Bm25Index(postings, s.getLong(0), s.getDouble(1))
  }

  /** Top-k BM25 per streaming query row (queryId, textCol). Works
    * identically on a batch frame (the group step spans the single
    * batch). Queries with no indexed term emit nothing — the batch
    * face's inner-join behavior. */
  def bm25TopK(queries: DataFrame, index: Bm25Index, queryId: String,
               textCol: String, k: Int, k1: Double = 1.2,
               b: Double = 0.75): Dataset[RankedHit] = {
    require(k >= 1, s"k=$k must be >= 1")
    val spark = queries.sparkSession
    import spark.implicits._
    // array_distinct = the batch face's per-query term dedup, without
    // a shuffle (terms of one query live in one row)
    val qterms = queries.select(
      col(queryId).cast("long").as("query_id"),
      explode(array_distinct(split(col(textCol), " "))).as("term"))
    // contribution computed with the SAME Column expression tree as
    // Bm25.topK (corpus scalars as literals), so the doubles agree
    // bit-for-bit before the fold
    val idf = log(lit(1.0) +
      ((lit(index.nDocs) - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfPart = col("tf").cast("double") * (lit(k1) + lit(1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl").cast("double") / lit(index.avgdl)))
    val hits = qterms.join(index.postings, "term")
      .select(col("query_id"), col("doc_id"), col("term"),
        (idf * tfPart).as("contrib"))
      .as[QueryTermHit]
    hits.groupByKey(_.query_id)
      .flatMapGroupsWithState[Int, RankedHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (qid: Long, it: Iterator[QueryTermHit], _) =>
          // cross-row (query_id, term) dedup: the batch face dedups
          // query terms GLOBALLY (.distinct()), so two rows carrying
          // the same query_id in one micro-batch must not double-count
          // a shared term. Duplicate rows yield structurally identical
          // (query_id, doc_id, term, contrib) hits, so case-class
          // distinct is exactly the batch dedup.
          val scored = it.toSeq.distinct.groupBy(_.doc_id).map {
            case (doc, hs) =>
              // per-doc fold in term order = the batch
              // Folds.orderedSum(term, contrib);
              // terms are unique per doc after the dedup, and the sort
              // compares UTF-8 bytes to match Spark's binary string
              // ordering (Scala's UTF-16 order diverges past the BMP)
              val s = hs.sortBy(_.term)(utf8Ordering)
                .foldLeft(0.0)((acc, h) => acc + h.contrib)
              doc -> BigDecimal(s)
                .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                .toDouble
          }
          scored.toSeq.sortBy { case (doc, s) => (-s, doc) }
            .take(k).zipWithIndex.map { case ((doc, s), i) =>
              RankedHit(qid, doc, s, i + 1L)
            }.iterator
      }
  }
}
