package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Folds

/** Feature hashing ("hashing trick", Weinberger et al. ICML 2009) and
  * reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR 2009) —
  * the two pieces that turn the lexical (BM25) and vector tiers into
  * a HYBRID search stack, the shape modern retrieval systems ship:
  * sparse and dense rankers run independently, then fuse on rank.
  *
  *  - `vectorize`: term → bucket via the engine-portable polynomial
  *    hash the oracle gate already pins (q_rollhash), counts summed
  *    per bucket, emitted as a dense `dim`-vector. No vocabulary
  *    table, no fit pass — the property that makes feature hashing
  *    the scale choice (a 100 TB corpus needs no driver-side dict).
  *  - `hashedCosineTopK`: exact cosine between hashed vectors, dot
  *    products as fixed-order folds over the bucket axis (dim is a
  *    constant, so the float sum is engine-reproducible).
  *  - `rrfFuse`: score(d) = Σ_r 1/(c + rank_r(d)) over the rankers
  *    that surfaced d (missing rank contributes 0) with the paper's
  *    c = 60; rank-only fusion needs no score calibration between
  *    rankers — exactly why RRF is the default fuser.
  *
  * Scale: vectorize is explode + two keyed aggregates (no vocabulary
  * broadcast); the cosine tier broadcasts only the QUERY vectors; the
  * fusion is a join of two already-top-N rank tables — cardinality
  * queries × N, trivially bounded. */
object HashingTf {

  /** (id, tfvec: array<double> of length dim) — bucket b holds the
    * count of terms hashing to b. */
  def vectorize(df: DataFrame, id: String, text: String,
                dim: Int): DataFrame = {
    require(dim >= 2, s"dim=$dim must be >= 2")
    val terms = df.select(col(id).as("id"),
      explode(split(col(text), " ")).as("term"))
    val buckets = terms
      .withColumn("bucket",
        pmod(TextAnalysis.rollingHash(col("term")), lit(dim.toLong)))
      .groupBy("id", "bucket").agg(count(lit(1)).cast("double").as("cnt"))
    buckets.groupBy("id")
      .agg(map_from_entries(Folds.inOrder(col("bucket"),
        struct(col("bucket"), col("cnt")))).as("m"))
      .select(col("id"),
        transform(sequence(lit(0L), lit(dim.toLong - 1)),
          b => coalesce(element_at(col("m"), b), lit(0.0))).as("tfvec"))
  }

  /** Fixed-order dot product over the bucket axis (fold order = bucket
    * order = reproducible in any engine). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x)

  /** Exact cosine top-k of `queries` (id, text) against `docs`
    * (id, text) in hashed-TF space; returns (query_id, doc_id,
    * cosine rounded to 6, rank). Query side broadcasts. */
  def hashedCosineTopK(docs: DataFrame, queries: DataFrame, id: String,
                       text: String, dim: Int, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val dv = vectorize(docs, id, text, dim)
      .select(col("id").as("doc_id"), col("tfvec").as("dv"))
      .withColumn("dn", sqrt(dot(col("dv"), col("dv"))))
    val qv = vectorize(queries, id, text, dim)
      .select(col("id").as("query_id"), col("tfvec").as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val scored = dv.crossJoin(broadcast(qv))
      .select(col("query_id"), col("doc_id"),
        round(dot(col("qv"), col("dv")) / (col("qn") * col("dn")), 6)
          .as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** RRF fusion of two (query_id, doc_id, rank) tables; returns
    * (query_id, doc_id, rrf rounded to 9, rank ≤ k).
    *
    * Shaped as UNION + one keyed aggregate rather than a full-outer
    * join: full outer can't broadcast, so the join form pays two
    * exchanges plus a sort per ranker; the union form pays one
    * partial-aggregated exchange total. Binary float addition is
    * commutative, so the two-term sum is order-independent —
    * bit-identical to the coalesce(a)+coalesce(b) join form. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int,
              c: Int = 60): DataFrame = {
    require(k >= 1 && c >= 0, "need k >= 1 and c >= 0")
    val contrib = (df: DataFrame) => df.select(col("query_id"),
      col("doc_id"),
      (lit(1.0) / (lit(c.toDouble) + col("rank").cast("double")))
        .as("__c"))
    val fused = contrib(a).unionAll(contrib(b))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("__c"), 9).as("rrf"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf"), col("rank"))
  }
}
