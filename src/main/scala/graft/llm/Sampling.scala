package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Folds

/** Corpus-assembly operators for training-data pipelines: reproducible
  * subsampling, per-stratum mixture weighting, and GPT-style sequence
  * packing. These are the steps between "deduplicated corpus" and
  * "training batches", and at 100 TB all three must be deterministic
  * pure column/window work — no RNG state, no driver-side shuffling.
  */
object Sampling {

  private val M = 2147483647L // 2^31 − 1

  /** Portable pseudo-random bucket of a numeric id: Park–Miller
    * multiplicative congruential `((id mod (M−1)) + 1)·48271 mod M`,
    * reduced to `buckets`. Chosen over xxhash64 DELIBERATELY: every
    * engine (Spark, DuckDB, any warehouse) computes it exactly with
    * plain 64-bit integer ops — no overflow (48271·(M−1) < 2^63 keeps
    * ANSI happy), no engine-specific hash — so a sample drawn here is
    * reproducible bit-for-bit by the DuckDB oracle or any downstream
    * system. The `+1` pre-map keeps the multiplier's input inside the
    * MCG's full-period domain [1, M−1]: without it, any id ≡ 0 mod M
    * (notably doc_id 0) is the MCG's fixed point and lands in bucket 0
    * under every rate, biasing tiny samples. */
  def idBucket(id: Column, buckets: Int): Column = {
    require(buckets > 0)
    pmod((pmod(id.cast("long"), lit(M - 1)) + 1L) * lit(48271L), lit(M)) %
      buckets
  }

  /** Deterministic Bernoulli-style subsample: keep a row iff its id
    * bucket (out of `den`) falls below `num` — an exact `num/den`
    * rate on a uniform id spread, the same subset on every run and
    * every engine. Pure filter: evaluates inside the scan's codegen
    * stage, no shuffle. */
  def hashSample(df: DataFrame, id: String, num: Int,
                 den: Int = 1000000): DataFrame = {
    require(num >= 0 && num <= den, s"num=$num must be in [0, den=$den]")
    df.filter(idBucket(col(id), den) < num)
  }

  /** Mixture sampling: per-stratum keep rates (the "sample web at 50%,
    * books at 100%" language/domain-weighting step). Strata absent
    * from `fractions` are dropped — the mixture is explicit. Rates are
    * fixed-denominator integers (`round(rate·den)`) so the oracle can
    * reproduce the exact threshold arithmetic. Pure filter, as above;
    * the per-stratum threshold is a broadcast-free literal CASE. */
  def stratifiedSample(df: DataFrame, id: String, stratum: String,
                       fractions: Map[String, Double],
                       den: Int = 1000000): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1))
    // Math.round, not toInt: truncation of the binary-imprecise double
    // product can come out one ulp low (2.3*1e6 -> 2299999), silently
    // diverging from an oracle's exact floor(rate*den). Rates that are
    // exact multiples of 1/den round to the mathematical product.
    val threshold = fractions.foldLeft(lit(0)) { case (acc, (s, f)) =>
      when(col(stratum) === s, lit(Math.round(f * den).toInt)).otherwise(acc)
    }
    df.filter(idBucket(col(id), den) < threshold)
  }

  /** Mixture weighting with rates above 1 — the epoch-style
    * "books ×2.5" upsampling a pretraining mixture needs. Each row is
    * replicated `floor(rate)` times, plus one more copy iff its id
    * bucket falls below the fractional remainder — the SAME bucket
    * test as [[stratifiedSample]], so rates ≤ 1 reduce to it exactly
    * and the kept set still nests monotonically in the rate. Every
    * copy carries a distinct `epoch` (0-based), so `(id, epoch)` stays
    * unique downstream. All threshold arithmetic is driver-side
    * integer math on `round(rate·den)`; the executor-side work is a
    * literal CASE plus `explode(sequence(...))` — no shuffle, no RNG
    * state, reproducible by any engine. Strata absent from `rates`
    * drop (rate 0), as in [[stratifiedSample]]. */
  def stratifiedUpsample(df: DataFrame, id: String, stratum: String,
                         rates: Map[String, Double],
                         den: Int = 1000000): DataFrame = {
    require(rates.values.forall(_ >= 0), "rates must be non-negative")
    // Math.round for the same one-ulp reason as in stratifiedSample
    val scaled = rates.map { case (s, r) => s -> Math.round(r * den) }
    val full = scaled.foldLeft(lit(0L)) { case (acc, (s, ri)) =>
      when(col(stratum) === s, lit(ri / den)).otherwise(acc)
    }
    val frac = scaled.foldLeft(lit(0L)) { case (acc, (s, ri)) =>
      when(col(stratum) === s, lit(ri % den)).otherwise(acc)
    }
    val copies = full +
      when(idBucket(col(id), den) < frac, 1L).otherwise(0L)
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("__copies") - 1L)))
      .drop("__copies")
  }

  /** GPT-style greedy sequence packing: within each shard, documents
    * are concatenated in id order and the token stream is chunked
    * every `budget` tokens; each document reports the training
    * sequence its first token lands in (`seq_id`) and its offset in
    * that sequence. One window pass (running token sum) per shard.
    *
    * `shard` bounds the window sort — a global unpartitioned
    * cumulative sum would serialize 100 TB through one task, and real
    * pipelines pack per shard/worker anyway ([[idBucket]] of the doc
    * id gives deterministic shards; a domain column works too).
    *
    * `id` must be unique within each shard: the running sum uses an
    * explicit ROWS frame, so duplicate ids would get distinct (but
    * order-arbitrary) starts instead of the documented concatenation
    * semantics. */
  def packSequences(df: DataFrame, id: String, tokens: Column,
                    budget: Int, shard: Column): DataFrame = {
    require(budget > 0)
    // explicit ROWS frame — the default RANGE frame would hand ORDER
    // BY peers (duplicate ids) one shared cumulative value, silently
    // diverging from the per-row concatenation contract
    val w = Window.partitionBy(shard).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__shard", shard)
      .withColumn("__start", sum(tokens).over(w) - tokens)
      // integral `div`, not floor(double /): exact past 2^53 tokens
      .withColumn("seq_id", expr(s"__start div ${budget}L"))
      .withColumn("seq_offset", pmod(col("__start"), lit(budget.toLong)))
      .drop("__start")
      .withColumnRenamed("__shard", "shard")
  }

  /** Exploded form of [[packSequences]]: one row per (document,
    * training-sequence) SLICE. A doc whose token interval
    * `[start, start+toks)` crosses sequence boundaries contributes one
    * row per sequence it touches, with `slice_start` (offset of the
    * slice within the DOC) and `slice_len` — exactly the pieces a
    * training loader materializes when a document spans sequences.
    * Sum of `slice_len` over a doc ≡ its token count; `slice_len` is
    * in `[1, budget]`. Same single window pass as [[packSequences]]
    * plus a per-row explode over the touched sequence range — the
    * fan-out is `ceil(toks/budget)+1` rows max per doc, data-bounded,
    * no shuffle beyond the shard window. Zero-token docs produce no
    * slices. */
  def packSlices(df: DataFrame, id: String, tokens: Column,
                 budget: Int, shard: Column): DataFrame = {
    require(budget > 0)
    val b = lit(budget.toLong)
    val w = Window.partitionBy(shard).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__shard", shard)
      .withColumn("__toks", tokens.cast("long"))
      .withColumn("__start", sum(col("__toks")).over(w) - col("__toks"))
      .filter(col("__toks") > 0L)
      .withColumn("seq_id", explode(sequence(
        expr(s"__start div ${budget}L"),
        expr(s"(__start + __toks - 1) div ${budget}L"))))
      .withColumn("slice_start",
        greatest(lit(0L), col("seq_id") * b - col("__start")))
      .withColumn("slice_len",
        least(col("__start") + col("__toks"), (col("seq_id") + 1L) * b) -
          greatest(col("__start"), col("seq_id") * b))
      .drop("__toks", "__start")
      .withColumnRenamed("__shard", "shard")
  }

  /** DSIR importance weights (Xie, Santurkar, Ma, Liang: "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023): score every raw document by how target-like its hashed
    * n-gram profile is,
    *
    *   log w(doc) = Σ_grams  ln p_target(bucket(g)) − ln q_raw(bucket(g))
    *
    * with unigram+bigram features hashed into `buckets` buckets and
    * both bucket distributions Laplace-smoothed
    * `(c_b + 1)/(N + buckets)`. Selection = keep the top-k by weight
    * (or Gumbel-resample; the weight table is the operator — the
    * filter downstream is a one-line orderBy/limit or threshold).
    *
    * The gram hash is the same engine-portable polynomial mod 2^31−1
    * as [[graft.llm.TextAnalysis.rollingHash]], so a plain SQL oracle
    * reproduces every bucket id. The per-doc float fold is
    * bucket-ordered (the [[TextAnalysis.perplexityScore]] contract) —
    * reproducible across engines and partitionings.
    *
    * 100 TB posture: ONE gram explode feeds a per-(doc, bucket) count
    * aggregate (map-side combine absorbs in-doc repetition before the
    * exchange); the bucket distributions are a second, `buckets`-row
    * aggregate over those counts, broadcast back as the ratio table.
    * No driver collect, no all-pairs anything. The per-doc count frame
    * is localCheckpoint-MATERIALIZED (eager, the one-shot-frame
    * pattern of the IVF/SemDedup builds): three consumers hang off it
    * (distributions, totals, final scoring), and without the barrier
    * Spark would re-run the corpus-wide gram explode once per consumer
    * — PlanSpec pins the final plan free of any Generate. (The paper
    * fits the ratio table once on a sample; sharing the materialized
    * counts is the same economy.) */
  def dsirLogWeights(df: DataFrame, id: String, text: String,
                     isTarget: Column, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    val w = split(col(text), " ")
    val bigrams = when(size(w) >= 2,
      transform(sequence(lit(0), size(w) - 2),
        i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array().cast("array<string>"))
    val grams = df.select(col(id), isTarget.as("__tgt"),
        explode(concat(w, bigrams)).as("__g"))
      .withColumn("__b", pmod(aggregate(
        transform(split(col("__g"), ""), c => ascii(c).cast("long")),
        lit(0L),
        (a, x) => pmod(a * lit(1000003L) + x, lit(2147483647L))),
        lit(buckets.toLong)))
    val perDoc = grams.groupBy(col(id), col("__b"))
      .agg(count(lit(1)).as("__cnt"), max(col("__tgt")).as("__tgt"))
      .localCheckpoint() // one gram pass shared by all three consumers
    val dist = perDoc.groupBy(col("__b"))
      .agg(sum("__cnt").as("__ac"),
        sum(when(col("__tgt"), col("__cnt")).otherwise(lit(0L)))
          .as("__tc"))
      .localCheckpoint() // buckets-row frame read by ratio AND totals
    val tot = dist.agg(sum("__ac").as("__na"), sum("__tc").as("__nt"))
    val ratio = dist.crossJoin(broadcast(tot))
      .select(col("__b"),
        (log((col("__tc") + 1).cast("double") /
            (col("__nt") + lit(buckets))) -
          log((col("__ac") + 1).cast("double") /
            (col("__na") + lit(buckets)))).as("__lr"))
    perDoc.join(broadcast(ratio), Seq("__b"))
      .groupBy(col(id))
      .agg(sum("__cnt").as("n_grams"),
        round(Folds.orderedSum(col("__b"), col("__cnt") * col("__lr")), 6)
          .as("dsir_logw"))
  }

  /** Gumbel-top-k resampling over [[dsirLogWeights]] (the DSIR paper's
    * selection step): sampling k docs WITHOUT replacement with
    * probability ∝ exp(log w) is exactly "take the top k by
    * log w + Gumbel noise" (Vieira 2014's Gumbel-top-k trick). The
    * Gumbel is DERIVED, not drawn: u = (bucket(id) + ½)/den from the
    * portable Park–Miller bucket, g = −ln(−ln u) — deterministic,
    * engine-reproducible, id-keyed. The selection key is ROUNDED
    * (round 6) before ranking, the [[graft.SparkEntry]] q_tfidf
    * contract, so cross-engine ln ulps cannot flip near-tie ranks;
    * residual ties break by id.
    *
    * 100 TB posture: the key is a scan-stage expression and top-k is
    * TakeOrdered (per-partition heads + driver merge of k rows) —
    * never a global sort. The rank window runs over the ALREADY
    * k-row frame. */
  def dsirResample(weights: DataFrame, id: String, logw: String, k: Int,
                   den: Int = 1000000): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val u = (idBucket(col(id), den).cast("double") + 0.5) / den
    val key = round(col(logw) + (lit(0.0) - log(lit(0.0) - log(u))), 6)
    weights.withColumn("gumbel_key", key)
      .orderBy(col("gumbel_key").desc, col(id).asc)
      .limit(k)
      .withColumn("sel_rank", row_number().over(
        Window.orderBy(col("gumbel_key").desc, col(id).asc)).cast("long"))
  }

  /** Per-stratum score-threshold CALIBRATION by exact rank: drop the
    * lowest `dropNum/dropDen` fraction of each stratum by `score`
    * (ties by id). This is the "set the quality threshold to keep X%"
    * step, done with INTEGER semantics — `floor(n·dropNum/dropDen)`
    * rows drop, no interpolated percentile, so there is no
    * equality-at-the-threshold hazard for an oracle or a re-run to
    * trip over. Rank on a ROUNDED score if the score is float-derived
    * (callers pass `round(score, 6)` — the q_tfidf contract).
    *
    * 100 TB posture: one window sort per stratum (the packSequences
    * shape — strata bound the sort; never global) plus a per-stratum
    * count over the same partitioning. */
  def dropBottomByScore(df: DataFrame, id: String, stratum: String,
                        score: Column, dropNum: Int,
                        dropDen: Int): DataFrame = {
    require(dropNum >= 0 && dropDen > 0 && dropNum < dropDen,
      s"need 0 <= dropNum=$dropNum < dropDen=$dropDen")
    val w = Window.partitionBy(col(stratum))
      .orderBy(score.asc, col(id).asc)
    val cw = Window.partitionBy(col(stratum))
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(cw))
      .filter(col("__rn") > expr(s"(__n * ${dropNum}L) div ${dropDen}L"))
      .drop("__rn", "__n")
  }

  /** Deterministic corpus SHUFFLE with a contiguous global position —
    * the "randomize training order, reproducibly" step. Global order is
    * `(idBucket(id, den), id)`: pseudo-random by the same portable
    * Park–Miller bucket as the samplers (any engine reproduces the
    * permutation), id as tie-break.
    *
    * A naive `row_number() OVER (ORDER BY ...)` is a single-task global
    * sort — dead at scale. Instead the bucket range is cut into
    * `nShards` CONTIGUOUS sub-ranges (`shard = bucket·nShards div den`,
    * so shard boundaries agree with the global order), each shard is
    * ranked with a per-shard window, and shard row-counts — an
    * `nShards`-row aggregate — are prefix-summed and broadcast back as
    * offsets: `pos = offset(shard) + rank − 1`. Two bounded exchanges
    * (shard window + tiny count agg) replace the global sort; the
    * result is exactly the rank the global ORDER BY would assign.
    *
    * Output: input columns + `shard` (int) + `pos` (long, 0-based,
    * contiguous 0..n−1). */
  def globalOrdinal(df: DataFrame, id: String, nShards: Int = 64,
                    den: Int = 1000000): DataFrame = {
    require(nShards >= 1 && nShards <= den)
    val bucket = idBucket(col(id), den)
    val withS = df
      .withColumn("__bucket", bucket)
      .withColumn("shard",
        expr(s"__bucket * ${nShards}L div ${den}L").cast("int"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__bucket"), col(id))
    val ranked = withS.withColumn("__rn", row_number().over(w).cast("long"))
    val offsets = withS.groupBy(col("shard"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(Window.orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("__off"))
    ranked.join(broadcast(offsets), "shard")
      .withColumn("pos", col("__off") + col("__rn") - 1L)
      .drop("__bucket", "__rn", "__off")
  }
}
