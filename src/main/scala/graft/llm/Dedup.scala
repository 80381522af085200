package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, Folds}

/** Deduplication operators for large-scale text corpora (builder brief:
  * first-class components beyond the reference's own surface).
  *
  * Everything is bucketed — candidate generation NEVER does an all-pairs
  * crossJoin. At 100 TB the joins are shuffle-partitioned by bucket key
  * (band hash / shingle), with document-frequency caps bounding the
  * blow-up of pathological hot shingles.
  */
object Dedup {

  /** Exact dedup: one row per distinct `fingerprintCols` group with the
    * kept (minimum) id and the duplicate count. */
  def exact(df: DataFrame, id: String, fingerprintCols: Seq[String]
           ): DataFrame =
    df.groupBy(fingerprintCols.map(col): _*)
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles, one row per (id, shingle), DISTINCT within a
    * doc (set semantics for Jaccard). */
  def shingles(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    // materialize the token array as an ATTRIBUTE before the transform:
    // an expression inside the lambda would be re-evaluated per element
    // (no CSE across lambda invocations) — O(len²) per document
    val words = df.select(col(id), split(col(text), " ").as("__words"))
    // guard: Spark sequence(0, -1) yields a DESCENDING [0,-1], not empty
    val sh = when(size(col("__words")) >= n,
      transform(sequence(lit(0), size(col("__words")) - n),
        i => concat_ws(" ", slice(col("__words"), i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    words.select(col(id), explode(sh).as("shingle")).distinct()
  }

  /** MinHash signatures: k independent hash functions simulated by
    * seeding xxhash64 with the hash index; one groupBy pass computes all
    * k minima (map-side partial aggregation keeps the shuffle tiny). */
  def minhashSignatures(df: DataFrame, id: String, text: String,
                        shingleN: Int = 3, numHashes: Int = 32): DataFrame = {
    val sh = shingles(df, id, text, shingleN)
    val aggs = (0 until numHashes).map { i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh$i")
    }
    sh.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash LSH candidate pairs: split the signature into `bands` bands
    * of `numHashes/bands` rows, bucket-join docs sharing any band bucket.
    * Estimated Jaccard = fraction of agreeing minhashes. Output:
    * (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard >= minEst. */
  /** LSH banding auto-tuner (the datasketch `_optimal_param` / Mining
    * of Massive Datasets §3.4.3 recipe): for each factorization
    * `numHashes = bands × rows`, integrate the S-curve
    * `P(candidate | jaccard s) = 1 − (1 − s^rows)^bands` below the
    * target threshold (false-positive mass) and its complement above
    * (false-negative mass), midpoint rule with `steps` points. The
    * caller picks the min-cost row and feeds (bands) to
    * [[minhashCandidates]] — threshold tuning stops being folklore.
    *
    * Each (bands, rows) row evaluates its whole integral inside ONE
    * higher-order-function expression — the relation never shuffles,
    * and the i-ascending fold makes the float sums engine-exact, so
    * the registered query carries a plain SQL oracle. */
  def lshErrorProfile(spark: org.apache.spark.sql.SparkSession,
                      numHashes: Int, threshold: Double,
                      steps: Int = 1000): DataFrame = {
    require(numHashes >= 2 && threshold > 0 && threshold < 1 && steps > 0)
    import spark.implicits._
    val pairs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    def mass(keepBelow: Boolean) =
      round(aggregate(sequence(lit(0), lit(steps - 1)), lit(0.0),
        (acc, i) => {
          val s = (i.cast("double") + 0.5) / steps
          val p = lit(1.0) -
            pow(lit(1.0) - pow(s, col("rows_per_band")), col("bands"))
          val term = if (keepBelow) when(s < threshold, p / steps)
            .otherwise(lit(0.0))
          else when(s >= threshold, (lit(1.0) - p) / steps)
            .otherwise(lit(0.0))
          acc + term
        }), 6)
    pairs.toDF("bands", "rows_per_band")
      .withColumn("fp", mass(keepBelow = true))
      .withColumn("fn", mass(keepBelow = false))
      .withColumn("cost", round(col("fp") + col("fn"), 6))
  }

  def minhashCandidates(df: DataFrame, id: String, text: String,
                        shingleN: Int = 3, numHashes: Int = 32,
                        bands: Int = 8, minEst: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(df, id, text, shingleN, numHashes)
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"mh$i"))
      struct(lit(b).as("band"), hash(cols: _*).as("bucket"))
    }
    val buckets = sigs.select(col(id).as("doc"),
        array(bandCols: _*).as("bb"))
      .select(col("doc"), explode(col("bb")).as("b"))
      .select(col("doc"), col("b.band"), col("b.bucket"))
    val a = buckets.select(col("band"), col("bucket"), col("doc").as("id_a"))
    val bjoin = buckets.select(col("band"), col("bucket"),
      col("doc").as("id_b"))
    val pairs = a.join(bjoin, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sa = sigs.select(
      (col(id).as("id_a") +:
        (0 until numHashes).map(i => col(s"mh$i").as(s"a$i"))): _*)
    val sb = sigs.select(
      (col(id).as("id_b") +:
        (0 until numHashes).map(i => col(s"mh$i").as(s"b$i"))): _*)
    val agree: Column = (0 until numHashes).map { i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)
    }.reduce(_ + _)
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard", agree.cast("double") / lit(numHashes))
      .filter(col("est_jaccard") >= minEst)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Exact n-gram Jaccard similarity for pairs sharing at least one
    * shingle. `maxDocFreq` drops shingles appearing in more docs (both a
    * skew guard and the standard quality heuristic). Output:
    * (id_a, id_b, jaccard) with id_a < id_b and jaccard >= minJaccard. */
  def ngramJaccard(df: DataFrame, id: String, text: String, n: Int = 3,
                   minJaccard: Double = 0.2, maxDocFreq: Int = 100
                  ): DataFrame = {
    val sh = shingles(df, id, text, n)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
    val filtered = sh.join(freq.select("shingle"), "shingle")
    val sizes = filtered.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val a = filtered.select(col("shingle"), col(id).as("id_a"))
    val b = filtered.select(col("shingle"), col(id).as("id_b"))
    val inter = a.join(b, "shingle").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(id).as("id_a"), col("sz").as("sza")), "id_a")
      .join(sizes.select(col(id).as("id_b"), col("sz").as("szb")), "id_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Train/benchmark decontamination — the standard pretraining step:
    * a training document sharing at least `minShared` distinct word
    * n-gram shingles with ANY benchmark document is contaminated.
    * Returns one row per contaminated train doc with its shared count
    * (callers anti-join to drop them; the relation itself is the audit
    * artifact a data pipeline wants to keep).
    *
    * Shape: shingle-bucketed equi-join like every candidate join here —
    * never train×bench. `maxDocFreq` caps hot shingles on the BENCHMARK
    * side (a stopword shingle would "contaminate" the entire corpus
    * and blow the join up); the benchmark shingle set after the cap is
    * deduplicated, so each (train doc, shingle) pair counts once no
    * matter how many benchmark docs contain it. */
  /** Per-document n-gram novelty / memorization audit (the Lee 2022 /
    * Carlini memorization-risk lens turned into a relation): what
    * fraction of a doc's distinct word n-grams appear in ANY other
    * document. `novelty = 1 − shared/total` — 1.0 is fully original
    * text, 0.0 is fully reconstructable from the rest of the corpus.
    * The audit face of the dedup tier: L1/L23/L71 REMOVE duplication,
    * this MEASURES the residue (and, run train-vs-train, bounds what a
    * model could memorize from cross-document repetition).
    *
    * Shape: the L3 shingle relation (distinct per doc) → one
    * shingle-keyed document-frequency aggregate → join back (rides the
    * shingle partitioning) → one doc-keyed aggregate. Linear in
    * shingle volume; no pair join at all — this is why the audit runs
    * at corpus scale even where pairwise dedup needs banding.
    * Docs with fewer than `n` words have no shingles and are omitted. */
  def noveltyScore(df: DataFrame, id: String, text: String,
                   n: Int = 5): DataFrame = {
    val sh = shingles(df, id, text, n)
    val freq = sh.groupBy("shingle")
      .agg(count(lit(1)).as("__df"))
    sh.join(freq, Seq("shingle"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_shared").cast("double") /
          col("n_shingles"), 6))
  }

  def decontaminate(train: DataFrame, bench: DataFrame, id: String,
                    text: String, n: Int = 3, minShared: Int = 2,
                    maxDocFreq: Int = 100): DataFrame = {
    val benchSh = shingles(bench, id, text, n)
    val hot = benchSh.groupBy("shingle").agg(count(lit(1)).as("__bdf"))
      .filter(col("__bdf") <= maxDocFreq)
      .select("shingle") // already distinct via the groupBy
    shingles(train, id, text, n)
      .join(hot, "shingle")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[decontaminate]] with a bloom-filter prefilter on the TRAIN side —
    * the 100 TB shape of the same operator. The benchmark shingle set
    * (small: a held-out eval suite) is sketched once with Spark's own
    * `BloomFilterAggregate`, the KB-sized blob is embedded as a literal,
    * and `bloom_might_contain` drops non-matching train shingles INSIDE
    * the scan stage — before the shuffle. At corpus scale the join's
    * exchange shrinks from "every shingle of every train doc" to "near
    * misses + true hits"; the exact equi-join then removes bloom false
    * positives, so the OUTPUT is bit-identical to [[decontaminate]]
    * (the oracle is the same SQL — approximation never reaches the
    * result). Same pattern as Catalyst's `InjectRuntimeFilter`, declared
    * explicitly.
    *
    * The one-row collect of the built sketch is a bounded sidecar read
    * (`numBits/8` bytes, default 64 KB), same posture as the IVF
    * probed-cell literals. */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, id: String,
                         text: String, n: Int = 3, minShared: Int = 2,
                         maxDocFreq: Int = 100,
                         numBits: Long = 1L << 19): DataFrame = {
    val benchSh = shingles(bench, id, text, n)
    val hot = benchSh.groupBy("shingle").agg(count(lit(1)).as("__bdf"))
      .filter(col("__bdf") <= maxDocFreq)
      .select("shingle")
    val blob = hot.agg(call_function("bloom_agg",
        xxhash64(col("shingle")), lit(numBits / 16), lit(numBits))
        .as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val pre = shingles(train, id, text, n)
      .filter(call_function("bloom_might_contain", lit(blob),
        xxhash64(col("shingle"))))
    pre.join(hot, "shingle")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** C4/CCNet-style SPAN-level exact dedup across the whole corpus:
    * each document is cut into non-overlapping `span`-word windows, and
    * only the globally FIRST occurrence (by (id, span_idx)) of each
    * distinct span survives; documents are re-assembled from their kept
    * spans. This is the repeated-boilerplate remover (C4 dropped any
    * three-sentence span seen before; CCNet dedups by paragraph hash) —
    * a different operator from whole-doc dedup: it edits documents
    * instead of dropping them.
    *
    * Output: (id, clean_text, n_spans, n_kept) for documents with at
    * least one surviving span — a document whose every span was seen
    * earlier disappears, which is whole-doc dedup as the degenerate
    * case.
    *
    * Scale shape: ONE exchange, keyed by `md5(span_text)` — a fixed
    * 32-char key, so the sort/shuffle never carries long span text as
    * the key (the 128-bit space makes collisions negligible, and any
    * collision merges the same groups in every engine, deterministic).
    * The re-assembly groupBy is keyed by doc id. No similarity math, no
    * candidate pairs — this is the exact tier that runs BEFORE fuzzy
    * dedup in a production pipeline. */
  def spanDedup(df: DataFrame, id: String, text: String,
                span: Int = 16): DataFrame = {
    require(span >= 1, s"span=$span must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val words = df.select(col(id), split(col(text), " ").as("__w"))
      .filter(size(col("__w")) >= 1) // sequence(0,-1) descends, not empty
      .withColumn("n_spans",
        (((size(col("__w")) - 1) / span) + 1).cast("long"))
    val spans = words
      .select(col(id), col("n_spans"),
        explode(sequence(lit(0), col("n_spans").cast("int") - 1))
          .as("span_idx"), col("__w"))
      .select(col(id), col("n_spans"), col("span_idx").cast("long")
          .as("span_idx"),
        concat_ws(" ", slice(col("__w"), col("span_idx") * span + 1,
          lit(span))).as("span_text"))
    val w = Window.partitionBy(md5(col("span_text")))
      .orderBy(col(id), col("span_idx"))
    spans.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col(id), col("n_spans"))
      .agg(
        array_join(Folds.inOrder(col("span_idx"), col("span_text")), " ")
          .as("clean_text"),
        count(lit(1)).as("n_kept"))
      .select(col(id), col("clean_text"), col("n_spans"), col("n_kept"))
  }

  /** Exact-substring duplicate detection (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * their suffix-array ExactSubstr criterion, re-expressed
    * relationally): report every document pair sharing a verbatim run
    * of ≥ `minLen` words, with the length of the LONGEST shared run.
    *
    * The suffix array is replaced by the anchor identity any common
    * substring obeys: a shared run of M ≥ L words contains exactly
    * M−L+1 of the documents' position-indexed L-word shingles, at
    * CONSECUTIVE positions on one (pos_a − pos_b) diagonal. So:
    * explode position-indexed L-gram anchors (md5-keyed — fixed-width
    * join keys, the spanDedup convention), equi-join on the anchor
    * key (never all-pairs), then gaps-and-islands over each pair's
    * diagonals: the longest island + L−1 IS the longest common
    * substring, exactly.
    *
    * `maxAnchorFreq` is the hot-anchor cap: anchors occurring more
    * than that many times corpus-wide (boilerplate floods — the
    * license header every file carries) are dropped BEFORE the join,
    * bounding per-anchor fan-out at maxAnchorFreq²; runs through a
    * dropped anchor report their capped-out remainder, so match_len
    * is a lower bound when the cap bites (it never invents a match).
    *
    * Output: (id_a, id_b, n_anchor_hits, match_len ≥ minLen) per
    * pair, id_a < id_b.
    *
    * Scale shape: one anchor-keyed window (occurrence cap) whose
    * exchange the self-join reuses, then pair/diagonal-keyed window +
    * aggregates — every stage keyed, no cartesian, anchor fan-out
    * capped. */
  def substringDedup(df: DataFrame, id: String, text: String,
                     minLen: Int, maxAnchorFreq: Int): DataFrame = {
    require(minLen >= 2, s"minLen=$minLen must be >= 2")
    require(maxAnchorFreq >= 2, s"maxAnchorFreq=$maxAnchorFreq must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val words = df.select(col(id), split(col(text), " ").as("__w"))
      .filter(size(col("__w")) >= minLen)
    val grams = words.select(col(id),
        posexplode(transform(
          sequence(lit(0), size(col("__w")) - minLen),
          i => md5(concat_ws(" ",
            slice(col("__w"), i + 1, lit(minLen))))))
          .as(Seq("pos", "gk")))
      .select(col(id), col("pos").cast("long").as("pos"), col("gk"))
    val capped = grams
      .withColumn("__occ", count(lit(1)).over(Window.partitionBy("gk")))
      .filter(col("__occ") <= maxAnchorFreq)
      .drop("__occ")
    val a = capped.select(col("gk"), col(id).as("id_a"),
      col("pos").as("pa"))
    val b = capped.select(col("gk"), col(id).as("id_b"),
      col("pos").as("pb"))
    // one row per (id_a, id_b, pa, pb): each position carries exactly
    // one anchor, so the equi-join cannot duplicate — no distinct pass
    val hits = a.join(b, "gk").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"))
    val wd = Window.partitionBy(col("id_a"), col("id_b"), col("__d"))
      .orderBy("pa")
    val runs = hits.withColumn("__d", col("pa") - col("pb"))
      .withColumn("__isl", col("pa") - row_number().over(wd))
      .groupBy(col("id_a"), col("id_b"), col("__d"), col("__isl"))
      .agg(count(lit(1)).as("__run"))
    runs.groupBy("id_a", "id_b")
      .agg(sum("__run").as("n_anchor_hits"),
        (max("__run") + lit(minLen) - 1).as("match_len"))
  }

  /** 64-bit SimHash per document over whitespace tokens: bit b of the
    * fingerprint is the sign of Σ_token (±1 by bit b of xxhash64(token)).
    * One explode + one groupBy with 64 codegen'd conditional sums. */
  /** Blocked edit-distance near-dup pairs — the ENTITY-RESOLUTION
    * face of the dedup tier (record linkage / fuzzy matching):
    * Levenshtein distance is the right similarity when edits are
    * CHARACTER-level (OCR noise, typos, template fills) where
    * shingle/minhash similarity is token-level.
    *
    * Candidate generation is classic BLOCKING, never all-pairs: block
    * key = (⌊len/`lenBucket`⌋, first `prefixLen` chars); the right
    * side emits into its own and both adjacent length buckets, so any
    * pair within `lenBucket` length difference and a shared prefix is
    * found exactly once. The prefix block is the documented RECALL
    * contract (edits inside the first `prefixLen` chars hide a pair —
    * the standard blocking trade; tighten with multiple passes on
    * different keys if needed). The exact `levenshtein(a, b) ≤
    * maxDist` filter runs only inside blocks; Spark and DuckDB
    * compute the identical plain edit distance, so the pair set and
    * distances are oracle-exact.
    *
    * Output: (id_a, id_b, dist, sim) with id_a < id_b and
    * sim = 1 − dist/max(len_a, len_b). */
  def editDistancePairs(df: DataFrame, id: String, text: String,
                        maxDist: Int, lenBucket: Int = 50,
                        prefixLen: Int = 16): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist must be >= 0")
    require(lenBucket >= 1 && prefixLen >= 1,
      "lenBucket and prefixLen must be >= 1")
    val base = df.select(col(id).as("__id"),
        col(text).cast("string").as("__t"))
      .filter(col("__t").isNotNull)
      .withColumn("__len", length(col("__t")).cast("long"))
      .withColumn("__pf", substring(col("__t"), 1, prefixLen))
    val lb = floor(col("__len") / lenBucket)
    val a = base.select(col("__id").as("id_a"), col("__t").as("__ta"),
      col("__len").as("__la"), col("__pf"), lb.as("__lb"))
    val b = base.select(col("__id").as("id_b"), col("__t").as("__tb"),
      col("__len").as("__lbn"), col("__pf"),
      explode(array(lb - 1, lb, lb + 1)).as("__lb"))
    a.join(b, Seq("__pf", "__lb"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lbn")) <= lenBucket)
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"),
        (lit(1.0) - col("dist").cast("double") /
          greatest(col("__la"), col("__lbn")).cast("double")).as("sim"))
  }

  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = df.select(col(id), explode(split(col(text), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s$b")
    }
    val agg = toks.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    val fp: Column = (0 until 64).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col(id), fp.as("simhash"))
  }

  /** Near-dup candidates by SimHash hamming distance <= maxDist.
    *
    * Banding is derived from the recall contract, not fixed: the 64-bit
    * fingerprint splits into the smallest divisor-of-64 number of chunks
    * that EXCEEDS maxDist — by pigeonhole, any pair within maxDist flips
    * fewer bits than there are chunks, so at least one chunk is intact
    * and the pair shares a bucket. Recall within maxDist is therefore
    * exact (not probabilistic). maxDist=3 → 4×16-bit chunks;
    * maxDist=7 → 8×8; maxDist=10 → 16×4.
    *
    * Scale note: high maxDist → narrow chunks → hot buckets (a 4-bit
    * chunk has 16 buckets). For maxDist > 7 at corpus scale use
    * [[simhashCandidatesMulti]] — same exact-recall pigeonhole, keys wide
    * enough to stay cool; the candidate join here is still
    * bucket-partitioned, never all-pairs. */
  def simhashCandidates(df: DataFrame, id: String, text: String,
                        maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist=$maxDist out of [0,64)")
    val fps = simhash(df, id, text)
      .select(col(id).as("doc"), col("simhash").as("fp"))
    val nChunks = Seq(1, 2, 4, 8, 16, 32, 64).find(_ > maxDist).get
    val width = 64 / nChunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunks = (0 until nChunks).map { c =>
      struct(lit(c).as("tbl"),
        shiftright(col("fp"), c * width).bitwiseAND(mask).as("key"))
    }
    val buckets = fps.select(col("doc"), col("fp"),
        explode(array(chunks: _*)).as("b"))
      .select(col("doc"), col("fp"), col("b.tbl"), col("b.key"))
    // chunk keys are raw block values, so key equality IS value equality
    // and the min-match emit predicate is exact (no distinct needed)
    val geometry = (0 until nChunks).map(c => Seq(c))
    val widths = Array.fill(nChunks)(width)
    hammingPairs(buckets, maxDist,
      Some(emitOnceTbl(geometry, widths, widths.scanLeft(0)(_ + _))))
  }

  /** True iff `tbl` is the lexicographically FIRST table whose key
    * blocks are all VALUE-intact between the two fingerprints — the one
    * occurrence of the pair to emit. Because tables enumerate q-subsets
    * in lexicographic order, the first intact table is exactly "the q
    * lowest-indexed clean blocks", so the test is pure bitwise math on
    * fp_a ^ fp_b: a clean-block bitmap, q lowest-bit extractions, and a
    * literal-mask lookup by table id. (An earlier form materialized a
    * boolean column per table and array_position'd over it — a 66-branch
    * expression per joined row that ran 8× SLOWER than the distinct it
    * replaced. Keep this row-local test O(blocks), not O(tables).)
    *
    * This is what lets the bucket join emit each pair EXACTLY ONCE
    * (keep the min-match occurrence, drop the rest) instead of
    * shuffling every duplicate occurrence through a distinct: on a
    * template-skewed corpus the bucket join emits tens of millions of
    * occurrences for a few hundred thousand pairs, and this predicate
    * deletes that exchange entirely. Rows with fewer than q clean
    * blocks (hash-collision candidates beyond the radius) get a short
    * mask that equals no table mask — rejected, as they should be. */
  private def emitOnceTbl(tables: Seq[Seq[Int]], widths: Array[Int],
                          offsets: Array[Int])
                         (fpA: Column, fpB: Column, tbl: Column): Column = {
    val nb = widths.length
    val x = fpA.bitwiseXOR(fpB)
    // bit i set iff block i of the xor is all-zero (value-intact)
    val cleanBits = (0 until nb).map { i =>
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      when(shiftright(x, offsets(i)).bitwiseAND(lit(mask)) === 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    // "tbl's blocks are the q lowest clean blocks" collapses to ONE
    // masked compare: clean ∩ [0..max(tbl's blocks)] == tbl's blocks —
    // i.e. tbl's blocks are clean and nothing below their maximum is.
    // Per-table masks are literals, so the whole test is the cleanBits
    // tree (referenced once) + a lookup + an AND + a compare, and it
    // stays codegen-friendly even when the optimizer folds it into the
    // bucket join's condition. (Iterative lowest-bit extraction, the
    // obvious formulation, self-references and DOUBLES the tree per
    // step — folded into the join condition it knocked the join out of
    // whole-stage codegen and ran slower than the distinct it replaces.)
    val tableMask = tables.map(s => s.map(i => 1L << i).sum)
    // s.max == 63 (reachable only at the degenerate maxDist = 63, where
    // blocks are single bits) would wrap `1L << 64` to 1 — spell the
    // full mask out, same as the width == 64 case above.
    val belowMask = tables.map(s =>
      if (s.max == 63) -1L else (1L << (s.max + 1)) - 1)
    cleanBits.bitwiseAND(
      element_at(array(belowMask.map(lit): _*), (tbl + 1).cast("int"))) ===
      element_at(array(tableMask.map(lit): _*), (tbl + 1).cast("int"))
  }

  /** Bucket-join tail shared by the SimHash candidate schemes: pairs
    * sharing any (table, key) bucket, exact hamming filter, then one
    * emit per pair — via the row-local `minMatch` predicate when given
    * (every within-radius pair provably has a value-intact table, and a
    * value-intact table is always a shared bucket), via a distinct
    * otherwise (the capped path, where the min-match table's bucket may
    * have been DROPPED by the cap and the predicate would lose pairs
    * that still co-occur in a cooler table). */
  private def hammingPairs(buckets: DataFrame, maxDist: Int,
                           emitOnce: Option[(Column, Column, Column) => Column]
                          ): DataFrame = {
    val a = buckets.select(col("tbl"), col("key"), col("doc").as("id_a"),
      col("fp").as("fp_a"))
    val b = buckets.select(col("tbl"), col("key"), col("doc").as("id_b"),
      col("fp").as("fp_b"))
    val joined = a.join(b, Seq("tbl", "key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxDist)
    emitOnce match {
      case Some(eo) =>
        joined.filter(eo(col("fp_a"), col("fp_b"), col("tbl")))
          .select("id_a", "id_b", "hamming")
      case None =>
        joined.select("id_a", "id_b", "hamming").distinct()
    }
  }

  /** Multi-index SimHash candidates — the radius > 7 scheme
    * [[simhashCandidates]]'s Scaladoc points to (the block-permutation
    * construction of Manku-Jain-Sarma, WWW'07 §3, re-expressed as a
    * bucket equi-join).
    *
    * The 64-bit fingerprint splits into `blocks` nearly-even bit blocks;
    * every q-subset of blocks (q = blocks − maxDist) is one TABLE whose
    * concatenated block values (hashed) form the bucket key. A pair
    * within maxDist dirties at most maxDist blocks, leaving ≥ q intact,
    * so at least one table keys entirely on intact blocks — recall at
    * radius ≤ maxDist is EXACT, like the single-block scheme, but the
    * key is q blocks wide instead of one: at maxDist=10 the single-block
    * scheme degenerates to 4-bit chunks (16 possible buckets — every
    * table goes hot on any corpus beyond a few hundred docs) while
    * blocks=12, q=2 keys on ~11 bits (C(12,2) = 66 tables of ~2k buckets).
    *
    * Costs that buy the exact recall: the bucket relation replicates
    * each doc C(blocks, q) times (66× at the default — bounded, bare
    * (id, fp, tbl, key) rows), and `maxBucketSize` (off by default to
    * preserve the recall proof) caps pathological buckets exactly like
    * `Similarity.capBuckets` — capped buckets degrade recall gracefully
    * since hot-bucket pairs usually still collide in a cooler table. */
  def simhashCandidatesMulti(df: DataFrame, id: String, text: String,
                             maxDist: Int = 10, blocks: Int = 0,
                             maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 1 && maxDist < 63, s"maxDist=$maxDist out of [1,63)")
    val fps = simhash(df, id, text)
      .select(col(id).as("doc"), col("simhash").as("fp"))
    simhashCandidatesFromFps(fps, maxDist, blocks, maxBucketSize)
  }

  /** Multi-index (table, key) bucket columns for a fingerprint column:
    * one struct per q-subset of blocks, key = xxhash64 of the subset's
    * block values (hash collisions only ADD candidates — the exact
    * hamming filter removes them, so recall is unaffected). */
  /** Block geometry shared by key construction and the min-match
    * predicate: q-subsets of `nb` nearly-even bit blocks. */
  private def blockGeometry(nb: Int, q: Int)
      : (Seq[Seq[Int]], Array[Int], Array[Int]) = {
    val tables = (0 until nb).combinations(q).map(_.toSeq).toSeq
    require(tables.size <= 512,
      s"C($nb,$q)=${tables.size} tables — lower `blocks` toward maxDist+2")
    val widths = Array.tabulate(nb)(i => 64 / nb + (if (i < 64 % nb) 1 else 0))
    (tables, widths, widths.scanLeft(0)(_ + _))
  }

  private def multiIndexKeys(fp: Column, nb: Int, q: Int): Seq[Column] = {
    val (tables, widths, offsets) = blockGeometry(nb, q)
    def block(i: Int): Column = {
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      shiftright(fp, offsets(i)).bitwiseAND(lit(mask))
    }
    tables.zipWithIndex.map { case (s, t) =>
      struct(lit(t).as("tbl"),
        xxhash64((lit(t) +: s.map(block)): _*).as("key"))
    }
  }

  private def resolveBlocks(maxDist: Int, blocks: Int): Int = {
    val nb = if (blocks > 0) blocks else maxDist + 2
    require(nb > maxDist && nb <= 32,
      s"blocks=$nb must exceed maxDist=$maxDist (pigeonhole) and fit 2-bit blocks")
    nb
  }

  /** [[simhashCandidatesMulti]] over a precomputed (doc, fp) relation —
    * the candidate-generation contract in isolation (also what a corpus
    * with persisted fingerprints calls directly). */
  private[llm] def simhashCandidatesFromFps(fps: DataFrame, maxDist: Int,
                                            blocks: Int = 0,
                                            maxBucketSize: Int = Int.MaxValue
                                           ): DataFrame = {
    val nb = resolveBlocks(maxDist, blocks)
    val keys = multiIndexKeys(col("fp"), nb, nb - maxDist)
    // materialize the (doc, fp) relation ONCE before fanning it out:
    // the bucket join consumes it on BOTH sides (probe + broadcast
    // build), and without the checkpoint each side recomputes the full
    // text-tokenize + per-doc fingerprint aggregate (measured r18:
    // two identical simhash subtrees in the plan). The checkpoint is
    // O(docs) × 16 bytes — the guide-§8 "decide on small rows" proxy
    // relation — and the explicit repartition keeps the ~C(b,q)×docs
    // probe-side pair explosion core-parallel regardless of how AQE
    // coalesced the aggregate output (measured r18: one coalesced
    // partition ran the 28.6M-probe join single-threaded, 5.9 s of an
    // 8.6 s query).
    // eager=false (ADVICE r18): plan-only consumers (PlanDump/explain)
    // must not pay a full tokenize+fingerprint job at DataFrame-
    // construction time; the first ACTION materializes the checkpoint,
    // and both join sides still share the one materialized copy.
    val fpsM = fps
      .repartition(fps.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(eager = false)
    val buckets = fpsM.select(col("doc"), col("fp"),
        explode(array(keys: _*)).as("b"))
      .select(col("doc"), col("fp"), col("b.tbl"), col("b.key"))
    if (maxBucketSize == Int.MaxValue) {
      // uncapped (exact) mode: hash collisions in the xxhash64 keys can
      // only ADD join rows, and a within-radius pair always shares its
      // min value-intact table's bucket — so the min-match predicate
      // both dedups and sheds collision rows without an exchange
      val (tables, widths, offsets) = blockGeometry(nb, nb - maxDist)
      hammingPairs(buckets, maxDist,
        Some(emitOnceTbl(tables, widths, offsets)))
    } else {
      val keep = buckets.groupBy("tbl", "key")
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= maxBucketSize)
        .select("tbl", "key")
      hammingPairs(buckets.join(keep, Seq("tbl", "key")), maxDist, None)
    }
  }

  /** Diagnostic twin of `Similarity.lshBucketStats` for the multi-index
    * scheme: one row per (table, key) bucket with its size and candidate
    * pair volume — run on a (doc, fp) sample BEFORE committing
    * (maxDist, blocks, maxBucketSize) on a new corpus. */
  def simhashBucketStats(fps: DataFrame, maxDist: Int = 10,
                         blocks: Int = 0): DataFrame = {
    val nb = resolveBlocks(maxDist, blocks)
    val keys = multiIndexKeys(col("fp"), nb, nb - maxDist)
    fps.select(explode(array(keys: _*)).as("b"))
      .groupBy(col("b.tbl").as("tbl"), col("b.key").as("key"))
      .agg(count(lit(1)).as("bucket_size"))
      .withColumn("pair_volume",
        col("bucket_size") * (col("bucket_size") - 1) / 2)
  }

  /** Resolve near-dup candidate PAIRS into keep/drop decisions:
    * connected components over the similarity graph by iterative
    * min-label propagation WITH pointer jumping — each round propagates
    * the neighborhood minimum one hop AND shortcuts every label to its
    * label's label (path halving). On chains whose node ids decrease
    * monotonically toward the minimum the travel distance DOUBLES per
    * round (O(log diameter): a 10⁶-node orderly chain resolves in ~20
    * rounds); on TANGLED id orders the one-level jump finds less to
    * shortcut and convergence degrades toward one hop per round —
    * measured: ~300-node ε-graph components with feature-order ids
    * (the DBSCAN probe shape) needed 22+ rounds. `maxIters` is
    * therefore sized to the worst PLAUSIBLE component diameter, not
    * the log bound; rounds after convergence are never run (the
    * changed-count check exits early), so a generous bound costs
    * nothing on easy graphs. The driver loop schedules ROUNDS, not
    * rows — the same fixpoint structure GraphX/GraphFrames use;
    * `localCheckpoint` truncates lineage per round (a persisted table on
    * a cluster). Labels only decrease (monotone, bounded), so the loop
    * always terminates; it THROWS if `maxIters` rounds do not converge —
    * a silently-partial component labeling would merge/keep the wrong
    * documents. Output: (id, keep_id, is_kept) — keep the minimum id of
    * each component, like `exact`. */
  def resolveComponents(docs: DataFrame, pairs: DataFrame, id: String,
                        maxIters: Int = 64, jumpLevels: Int = 2): DataFrame = {
    require(jumpLevels >= 1, s"jumpLevels=$jumpLevels must be >= 1")
    val spark = docs.sparkSession
    def label[T](phase: String, i: Int)(body: => T): T =
      Checkpoints.labeled(spark, s"components:$phase:$i")(body)
    // loop-invariant edges, hash-partitioned on src: the per-round
    // message join never re-shuffles them
    val edges = label("edges", 0)(Checkpoints.fresh(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      "src"))
    // round state (node, comp, __chg), keyed on node: round 0 reads
    // its labels four times, so the docs are materialized once here
    var state = label("labels", 0)(Checkpoints.fresh(
      docs.select(col(id).as("node"), col(id).as("comp"),
        lit(true).as("__chg")), "node"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val labels = state.drop("__chg")
      val neighborMin = edges
        .join(labels.hint("shuffle_hash"), edges("src") === labels("node"))
        .groupBy(col("dst")).agg(min("comp").as("ncomp"))
      val prop = labels
        .join(neighborMin.hint("shuffle_hash"),
          labels("node") === neighborMin("dst"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("ncomp"), col("comp")))
            .as("comp"),
          coalesce(col("ncomp") < col("comp"), lit(false)).as("__chg"))
      // pointer jumping: comp := prevComp(comp), chained `jumpLevels`
      // deep through the PREVIOUS round's (checkpointed) labels. Every
      // level is a left join against the SAME label relation, so the
      // planner builds ONE broadcast and reuses it (ReusedExchange —
      // the levels' subtrees are canonically identical) and each extra
      // level costs only a nodes-sized in-plan probe; the checkpoint's
      // measured size is what lets it broadcast. What a level
      // BUYS is a full extra hop of path compression per round, and a
      // ROUND is the expensive unit here — its scheduled jobs and
      // checkpoint are ~0.4 s of fixed cost at bench
      // scale regardless of data (r18 profile: q_dbscan spent 5+ s in
      // ~12 rounds of sub-100 ms jobs). Levels beyond 2 were MEASURED
      // not to pay (r18): convergence is bounded by min-label EDGE
      // propagation (one hop per round through the static edge set),
      // so 6 levels cut rounds only 12 → 10 while each level added a
      // per-round broadcast job (job-time sum rose 5.3 → 8.0 s on the
      // DBSCAN ε-graph) — hence the default stays 2. Labels only
      // decrease, so the lookups are monotone-safe; a root label is a
      // no-op (join miss keeps comp); the FINAL labels are the same
      // fixpoint (component min) at any level count — levels move
      // only how fast the loop gets there.
      var cur = prop
      var lvl = 0
      while (lvl < jumpLevels) {
        val jn = s"__jn$lvl"
        val jc = s"__jc$lvl"
        val jump = labels.select(col("node").as(jn), col("comp").as(jc))
        cur = cur.join(jump, cur("comp") === jump(jn), "left")
          .select(col("node"),
            coalesce(col(jc), col("comp")).as("comp"),
            (col("__chg") || coalesce(col(jc) < col("comp"), lit(false)))
              .as("__chg"))
        lvl += 1
      }
      val prev = state
      state = label("round", i)(Checkpoints.fresh(cur, "node"))
      Checkpoints.release(prev)
      converged = label("converged", i)(
        Checkpoints.isEmpty(state.filter(col("__chg"))))
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveComponents did not converge in $maxIters rounds — " +
          "component labels would be partial; raise maxIters")
    // materialize the result, then release every checkpoint of this
    // call
    val out = label("output", 0)(state.select(col("node").as(id),
        col("comp").as("keep_id"), (col("node") === col("comp")).as("is_kept"))
      .localCheckpoint())
    Seq(state, edges).foreach(Checkpoints.release)
    out
  }

  /** Embedding cosine near-dup: hyperplane-LSH bucket join (Similarity,
    * OR-amplified bands), exact cosine inside buckets, threshold. Recall
    * is probabilistic — pick (planes, bands) from the S-curve for the
    * target cosine (see Similarity.bandKeys). */
  def embeddingNearDup(df: DataFrame, id: String, vec: String,
                       minCosine: Double = 0.95, planes: Int = 16,
                       bands: Int = 4): DataFrame =
    Similarity.lshPairs(df, id, vec, planes, bands)
      .filter(col("cosine") >= minCosine)
}
