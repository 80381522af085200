package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Folds

/** GPT-3-style corpus quality classifier (Brown et al. 2020 §A;
  * CCNet's fasttext filter is the same idea): train a classifier to
  * separate a CURATED slice (positive: wiki/books-like sources) from
  * the raw crawl, score every document, and let downstream sampling
  * keep documents by score. Here the classifier is hashed-unigram
  * Naive Bayes — the deterministic member of that family: counts and
  * Laplace-smoothed log-likelihood ratios have no training-order or
  * float-reduction freedom (integer counts → one log per bucket), so
  * the SCORES are engine-reproducible and oracle-checkable, unlike an
  * SGD-trained fasttext twin.
  *
  *   llr(b)  = ln( (c⁺(b)+1)/(T⁺+B) · (T⁻+B)/(c⁻(b)+1) )
  *   score(d)= (Σ_{tokens, position order} llr(bucket(t))) / n_tokens
  *
  * The per-doc sum folds in POSITION order (the q_perplexity
  * convention) so the float total is bit-reproducible cross-engine.
  *
  * Plan shape: one bucket-count aggregate (≤ B rows out — the model
  * IS a broadcastable relation, the feature-hashing property), the
  * scoring join is map-side against that broadcast, and the per-doc
  * fold is one doc-keyed aggregate: two exchanges end to end, both
  * partial-aggregated. At 100 TB the model table is still B rows. */
object NbQuality {

  /** The trained model as a relation: (bucket, llr) — ≤ `buckets`
    * rows, the artifact a production pipeline persists once and then
    * scores months of data against (see [[scoreMapOnly]]). */
  def train(docs: DataFrame, text: String, isPositive: Column,
            buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    val toks = docs.select(isPositive.cast("boolean").as("__pos"),
        explode(split(col(text), " ")).as("__t"))
      .withColumn("__b",
        pmod(TextAnalysis.rollingHash(col("__t")), lit(buckets.toLong)))
    val counts = toks.groupBy("__b")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__cp"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("__cn"))
    val totals = toks.agg(
      sum(when(col("__pos"), 1L).otherwise(0L)).as("__tp"),
      sum(when(col("__pos"), 0L).otherwise(1L)).as("__tn"))
    counts.crossJoin(broadcast(totals))
      .select(col("__b").as("bucket"),
        (log((col("__cp") + 1).cast("double") /
            (col("__tp") + lit(buckets)).cast("double")) -
          log((col("__cn") + 1).cast("double") /
            (col("__tn") + lit(buckets)).cast("double"))).as("llr"))
  }

  /** SHUFFLE-FREE scoring against a collected model: the whole pass is
    * scan-stage column expressions (split → bucket → map lookup →
    * position-ordered in-row fold), so scoring 100 TB is a map-only
    * job — and, being stateless, it runs UNCHANGED on a streaming
    * frame (the stateless-hygiene streaming contract; StreamingSpec
    * pins stream ≡ batch ≡ the joined [[nbQualityScore]] form).
    * Tokens whose bucket is absent from the model carry no evidence
    * and are excluded from both the fold and `n_tokens`, matching the
    * joined form's inner join. Output equals [[nbQualityScore]]
    * bit-for-bit when the model came from [[train]] on the same
    * corpus. */
  def scoreMapOnly(docs: DataFrame, id: String, text: String,
                   model: Map[Long, Double],
                   buckets: Int): DataFrame =
    withScoreMapOnly(docs, text, model, buckets)
      .select(col(id), col("n_tokens"), col("nb_llr_mean"),
        col("is_quality"))

  /** [[scoreMapOnly]] that KEEPS the input's columns, appending
    * (n_tokens, nb_llr_mean, is_quality) — the form a composed
    * assembly chain uses so scoring adds zero exchanges AND no
    * join-back (PlanSpec pins the zero-exchange delta in the
    * corpus-v3 chain). Same row filter (token-less docs drop) and
    * bit-identical scores. */
  def withScoreMapOnly(docs: DataFrame, text: String,
                       model: Map[Long, Double],
                       buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    // the model ships as a DENSE array literal indexed by bucket
    // (absent buckets are null): element_at on an array is an O(1)
    // index, where a map literal would linear-scan its B entries per
    // token — a ~B× difference on the per-token hot path
    val dense: Seq[Option[Double]] =
      Seq.tabulate(buckets)(b => model.get(b.toLong))
    val arrLit = typedlit(dense)
    val llrs = filter(
      transform(split(col(text), " "),
        t => element_at(arrLit,
          (pmod(TextAnalysis.rollingHash(t), lit(buckets.toLong)) +
            lit(1L)).cast("int"))),
      x => x.isNotNull)
    docs.withColumn("__l", llrs)
      .filter(size(col("__l")) > 0)
      .withColumn("n_tokens", size(col("__l")).cast("long"))
      .withColumn("nb_llr_mean",
        aggregate(col("__l"), lit(0.0), (a, x) => a + x) /
          size(col("__l")).cast("double"))
      .withColumn("is_quality", (col("nb_llr_mean") > 0).cast("int"))
      .drop("__l")
  }

  /** Collect a [[train]] model relation to the driver-side map
    * [[scoreMapOnly]] takes (≤ `buckets` entries — bounded state, the
    * codebook convention). */
  def collectModel(model: DataFrame): Map[Long, Double] =
    model.collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Double]("llr"))
      .toMap

  /** Per-doc quality scores, self-trained on `isPositive`:
    * (id, n_tokens, nb_llr_mean, is_quality = llr mean > 0). Docs
    * with no tokens are dropped (no evidence either way). */
  def nbQualityScore(docs: DataFrame, id: String, text: String,
                     isPositive: Column,
                     buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    val toks = docs.select(col(id).as("__id"),
        isPositive.cast("boolean").as("__pos"),
        posexplode(split(col(text), " ")).as(Seq("__p", "__t")))
      .withColumn("__b",
        pmod(TextAnalysis.rollingHash(col("__t")), lit(buckets.toLong)))
    // the model: one bounded aggregate -> (bucket, llr)
    val counts = toks.groupBy("__b")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__cp"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("__cn"))
    // totals from the token level, not from `counts`: summing the
    // counts frame would duplicate its exchange in the plan (column
    // pruning defeats reuse), while this is a scan-side
    // single-partition fold — same values (Σ_b c⁺(b) ≡ total positive
    // tokens)
    val totals = toks.agg(
      sum(when(col("__pos"), 1L).otherwise(0L)).as("__tp"),
      sum(when(col("__pos"), 0L).otherwise(1L)).as("__tn"))
    val model = counts.crossJoin(broadcast(totals))
      .select(col("__b"),
        (log((col("__cp") + 1).cast("double") /
            (col("__tp") + lit(buckets)).cast("double")) -
          log((col("__cn") + 1).cast("double") /
            (col("__tn") + lit(buckets)).cast("double"))).as("__llr"))
    toks.join(broadcast(model), "__b")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        (Folds.orderedSum(col("__p"), col("__llr")) /
          count(lit(1)).cast("double")).as("nb_llr_mean"))
      .select(col("__id").as(id), col("n_tokens"), col("nb_llr_mean"),
        (col("nb_llr_mean") > 0).cast("int").as("is_quality"))
  }
}
