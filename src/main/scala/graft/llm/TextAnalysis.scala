package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Folds

/** Text analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification, document fingerprinting.
  * All pure column expressions (codegen'd — no UDFs).
  */
object TextAnalysis {

  /** Whitespace token count via length arithmetic (robust across SQL
    * dialects; single-spaced corpora). */
  def tokenCountWs(text: Column): Column =
    length(text) - length(regexp_replace(text, " ", "")) + lit(1)

  /** BPE-ish token count: word pieces + digits + punctuation runs — the
    * standard `\w+|[^\w\s]` pre-tokenizer cardinality. */
  def tokenCountBpe(text: Column): Column = {
    val words = size(filter(split(text, "[^\\p{L}\\p{N}]+"), t => t =!= ""))
    // explicit whitespace class (== Java's \s): \s is NOT portable —
    // Java includes vertical tab \x0B, RE2/DuckDB does not (house rule)
    val punct = size(filter(
      split(text, "[\\p{L}\\p{N} \\t\\n\\x0B\\f\\r]+"), t => t =!= ""))
    words + punct
  }

  /** Quality heuristics (length / punctuation / stopword ratios) and a
    * composite [0,1] score — the capability of a C4/Gopher-style filter
    * expressed relationally. */
  def withQuality(df: DataFrame, text: String,
                  stopwords: Seq[String] = Seq("the", "a", "and", "of",
                    "to", "in", "is", "it")): DataFrame = {
    val t = col(text)
    val nTok = tokenCountWs(t)
    val toks = split(t, " ")
    val stopHits = size(filter(toks, w => w.isin(stopwords: _*)))
    val punct = length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val d = df
      .withColumn("n_chars_ta", length(t).cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("avg_token_len",
        (length(t) - nTok + 1).cast("double") / nTok)
      .withColumn("stop_ratio", stopHits.cast("double") / nTok)
      // empty text → ANSI division throws; SQL semantics say NULL
      // (tokenCountWs is >= 1 by construction, so the nTok ratios are
      // safe without a guard)
      .withColumn("punct_ratio",
        when(length(t) =!= 0, punct.cast("double") / length(t)))
    d.withColumn("quality_score",
      (when(col("n_tokens").between(10, 1000), lit(0.4)).otherwise(lit(0.0))
        + when(col("avg_token_len").between(2.0, 12.0), lit(0.3))
          .otherwise(lit(0.0))
        + least(col("stop_ratio") * lit(3.0), lit(0.3))))
  }

  /** Language-ID by stopword-hit voting over small built-in profiles
    * (public-knowledge closed-class words) + a CJK character-ratio rule.
    * Heuristic n-gram-free variant; returns the argmax language code. */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was",
      "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit",
      "auf", "für"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "de", "un",
      "para"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "un", "une", "dans",
      "pour"))

  def withLangId(df: DataFrame, text: String,
                 out: String = "lang_pred"): DataFrame = {
    val toks = split(lower(col(text)), " ")
    val nTok = greatest(size(toks), lit(1))
    val scores = profiles.map { case (lang, words) =>
      struct(
        (size(filter(toks, w => w.isin(words: _*))).cast("double") / nTok)
          .as("score"),
        lit(lang).as("lang"))
    }
    val cjkRatio = (length(col(text)) -
      length(regexp_replace(col(text), "[\\x{4e00}-\\x{9fff}]", "")))
      .cast("double") / greatest(length(col(text)), lit(1))
    val best = array_max(array(scores: _*))
    df.withColumn(out,
      when(cjkRatio > 0.2, lit("zh"))
        .when(best.getField("score") > 0, best.getField("lang"))
        .otherwise(lit("und")))
  }

  /** Gopher/MassiveText-style REPETITION quality signals, the published
    * filters that catch boilerplate- and loop-generated text which the
    * length/stopword heuristics of [[withQuality]] miss:
    *
    *  - `uniq_word_frac`  — distinct words / words (low = loopy text)
    *  - `top2gram_frac`   — tokens covered by occurrences of the single
    *    most frequent word 2-gram, / token count (Gopher filters docs
    *    where the top n-gram covers too much of the document)
    *  - `dup5gram_frac`   — tokens in 5-gram occurrences that appear
    *    more than once, / token count (the "fraction of characters in
    *    duplicated n-grams" family, token-denominated; overlapping
    *    occurrences are each counted, so values may exceed 1 on
    *    degenerate single-word documents — callers threshold, so only
    *    monotonicity matters)
    *
    * One pass: words / 2-grams / 5-grams are tagged and unioned, then
    * ONE groupBy((id, tag, gram)) counts occurrences (map-side partial
    * aggregation absorbs the per-doc repetition before the exchange)
    * and ONE groupBy(id) folds the counts into the three signals.
    * Returns (id, n_tokens, uniq_word_frac, top2gram_frac,
    * dup5gram_frac). */
  def repetitionStats(df: DataFrame, id: String, text: String): DataFrame = {
    def grams(n: Int, tag: String): DataFrame = {
      val words = df.select(col(id), split(col(text), " ").as("__w"))
      val g =
        if (n == 1) col("__w")
        else when(size(col("__w")) >= n,
          transform(sequence(lit(0), size(col("__w")) - n),
            i => concat_ws(" ", slice(col("__w"), i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))
      words.select(col(id), lit(tag).as("tag"), explode(g).as("gram"))
    }
    val tagged = grams(1, "w1").unionByName(grams(2, "g2"))
      .unionByName(grams(5, "g5"))
    val counts = tagged.groupBy(col(id), col("tag"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col(id))
      .agg(
        sum(when(col("tag") === "w1", col("cnt"))).as("__nw"),
        count(when(col("tag") === "w1", lit(1))).as("__uw"),
        max(when(col("tag") === "g2", col("cnt"))).as("__m2"),
        sum(when(col("tag") === "g5" && col("cnt") >= 2, col("cnt")))
          .as("__d5"))
      .select(col(id), col("__nw").as("n_tokens"),
        (col("__uw").cast("double") / col("__nw")).as("uniq_word_frac"),
        coalesce(col("__m2") * lit(2), lit(0L)).cast("double")
          ./(col("__nw")).as("top2gram_frac"),
        coalesce(col("__d5") * lit(5), lit(0L)).cast("double")
          ./(col("__nw")).as("dup5gram_frac"))
  }

  /** CCNet-style LANGUAGE-MODEL quality scoring: per-document average
    * negative log-likelihood under a Laplace-smoothed bigram model
    * trained on the corpus itself (the published recipe scores against
    * a reference-corpus LM; self-training is the degenerate in-engine
    * form — boilerplate/loop text scores low, rare-transition noise
    * scores high, and thresholding on the score is the filter).
    *
    *   nll(w1→w2) = −ln((B(w1,w2) + 1) / (C(w1) + V))
    *
    * with B bigram counts, C context counts, V vocabulary size — all
    * exact integers, so the only float work is the per-term ln and the
    * per-doc fold. That fold is ORDER-PINNED: terms are collected with
    * their position and summed left-to-right after an array_sort — a
    * plain float `avg` would sum in partition arrival order and no
    * oracle could reproduce it bit-for-bit. Output:
    * (id, n_bigrams, avg_nll); docs with fewer than two words have no
    * bigrams and drop (callers treat them via the length filters). */
  def perplexityScore(df: DataFrame, id: String, text: String): DataFrame = {
    val words = df.select(col(id), split(col(text), " ").as("__w"))
    val bi = words.filter(size(col("__w")) >= 2)
      .select(col(id), explode(transform(
        sequence(lit(0), size(col("__w")) - 2),
        i => struct(i.cast("long").as("pos"),
          element_at(col("__w"), i + 1).as("w1"),
          element_at(col("__w"), i + 2).as("w2")))).as("__b"))
      .select(col(id), col("__b.pos").as("__pos"),
        col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val bCounts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("__bc"))
    val cCounts = bi.groupBy("w1").agg(count(lit(1)).as("__cc"))
    val vocab = df.select(explode(split(col(text), " ")).as("__t"))
      .agg(count_distinct(col("__t")).as("__v"))
    bi.join(bCounts, Seq("w1", "w2")).join(cCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__nll", lit(0.0) -
        log((col("__bc") + 1).cast("double") / (col("__cc") + col("__v"))))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(Folds.orderedSum(col("__pos"), col("__nll")) /
          count(lit(1)), 6)
          .as("avg_nll"))
  }

  /** Stupid-backoff trigram LM score (Brants, Popat, Xu, Och, Dean:
    * "Large Language Models in Machine Translation", EMNLP 2007) — the
    * smoothing DESIGNED for distributed LM estimation: no discounting,
    * no normalization, just raw relative frequencies with a fixed
    * `alpha` backoff penalty, so every model table is an
    * embarrassingly parallel count aggregate. The LM trains on a
    * deterministic [[Sampling.hashSample]] split (`trainNum/den`,
    * default half) and scores the WHOLE corpus — held-out docs
    * exercise real backoff (training on the scored corpus itself would
    * make every trigram seen and the backoff dead code).
    *
    *   S(w₃|w₁w₂) = f(w₁w₂w₃)/f(w₁w₂)   when the trigram is in-model
    *              = α · S(w₃|w₂)        otherwise
    *   S(w₃|w₂)   = f(w₂w₃)/f(w₂)       when the bigram is in-model
    *              = α · S(w₃)
    *   S(w₃)      = f(w₃)/N,            OOV words floored at 0.5/N
    *
    * All counts are exact integers; the per-doc fold over −ln S is
    * position-ordered (the [[perplexityScore]] contract) so the float
    * sum is engine-reproducible and the registered query carries a
    * plain SQL oracle. Output: `(id, n_trigrams, avg_nll,
    * backoff_rate)` — backoff_rate is the fraction of positions that
    * fell below the trigram order, a model-coverage diagnostic (0 for
    * in-model docs by construction). Docs with fewer than three words
    * drop (callers treat them via the length filters).
    *
    * 100 TB posture: the count tables are map-side-combinable
    * aggregates; scoring is 1:1 equi-joins against them (each position
    * row matches at most one count row — no fan-out), sharded on the
    * n-gram key — the Brants architecture verbatim. */
  def stupidBackoffScore(df: DataFrame, id: String, text: String,
                         trainNum: Int = 1, den: Int = 2,
                         alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0,1)")
    def triPos(d: DataFrame): DataFrame =
      d.select(col(id), split(col(text), " ").as("__w"))
        .filter(size(col("__w")) >= 3)
        .select(col(id), explode(transform(
          sequence(lit(0), size(col("__w")) - 3),
          i => struct(i.cast("long").as("pos"),
            element_at(col("__w"), i + 1).as("w1"),
            element_at(col("__w"), i + 2).as("w2"),
            element_at(col("__w"), i + 3).as("w3")))).as("__t"))
        .select(col(id), col("__t.pos").as("__pos"),
          col("__t.w1").as("w1"), col("__t.w2").as("w2"),
          col("__t.w3").as("w3"))
    val train = Sampling.hashSample(df, id, trainNum, den)
    val twords = train.select(split(col(text), " ").as("__w"))
    val tuni = twords.select(explode(col("__w")).as("__u"))
    val uc = tuni.groupBy("__u").agg(count(lit(1)).as("__uc"))
    val ntok = tuni.agg(count(lit(1)).cast("double").as("__n"))
    val bc = twords.filter(size(col("__w")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__w")) - 2),
        i => struct(element_at(col("__w"), i + 1).as("b1"),
          element_at(col("__w"), i + 2).as("b2")))).as("__b"))
      .groupBy(col("__b.b1").as("b1"), col("__b.b2").as("b2"))
      .agg(count(lit(1)).as("__bc"))
    val tc = triPos(train).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("__tc"))
    // left joins: a trigram hit implies its (w1,w2) context bigram is
    // in-model, and a bigram hit implies its w2 unigram is — the
    // denominators are never null on the branch that uses them
    val scored = triPos(df)
      .join(tc, Seq("w1", "w2", "w3"), "left")
      .join(bc.select(col("b1").as("w1"), col("b2").as("w2"),
        col("__bc").as("__bc12")), Seq("w1", "w2"), "left")
      .join(bc.select(col("b1").as("w2"), col("b2").as("w3"),
        col("__bc").as("__bc23")), Seq("w2", "w3"), "left")
      .join(uc.select(col("__u").as("w2"), col("__uc").as("__uc2")),
        Seq("w2"), "left")
      .join(uc.select(col("__u").as("w3"), col("__uc").as("__uc3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(ntok))
      .withColumn("__s",
        when(col("__tc").isNotNull,
          col("__tc").cast("double") / col("__bc12"))
          .otherwise(lit(alpha) *
            when(col("__bc23").isNotNull,
              col("__bc23").cast("double") / col("__uc2"))
              .otherwise(lit(alpha) *
                (coalesce(col("__uc3").cast("double"), lit(0.5)) /
                  col("__n")))))
      .withColumn("__nll", lit(0.0) - log(col("__s")))
      .withColumn("__bo", when(col("__tc").isNotNull, 0L).otherwise(1L))
    scored.groupBy(col(id))
      .agg(count(lit(1)).as("n_trigrams"),
        round(Folds.orderedSum(col("__pos"), col("__nll")) /
          count(lit(1)), 6)
          .as("avg_nll"),
        round(sum(col("__bo")).cast("double") / count(lit(1)), 6)
          .as("backoff_rate"))
  }

  /** PII detection/redaction — the rule-based tier every published
    * web-corpus pipeline runs before release (C4 strips blocklisted
    * content, Dolma/BigScience-ROOTS mask emails, phone numbers, IP
    * addresses with typed placeholders). Patterns are the standard
    * conservative regexes, written in the Java-regex ∩ RE2 common
    * subset (`\b`, bounded quantifiers, character classes) so the SAME
    * pattern text runs in Spark AND in the DuckDB oracle.
    *
    * Order matters for BOTH lists: `555-123-4567` must be consumed by
    * the phone rule before the SSN rule can see its tail, so phone
    * precedes ssn in redaction (detection counts are independent
    * per-pattern scans over the ORIGINAL text, so they don't care).
    *
    * 100 TB posture: pure column expressions (regexp_count /
    * regexp_replace) — codegen'd, map-only, no exchange. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Luhn-checksum validation of a digit string (ISO/IEC 7812 — the
    * published discriminator between card-shaped numbers and real
    * ones; every serious PII pipeline checksums before redacting, or
    * drowns in false positives). Pure HOF fold over the reversed
    * digits — codegen'd, engine-portable (the oracle reproduces it
    * with list_reduce). */
  def luhnValid(digits: Column): Column = {
    val ds = reverse(transform(split(digits, ""),
      c => ascii(c) - lit(48)))
    val total = aggregate(
      transform(sequence(lit(0), size(ds) - 1), i => {
        val d = element_at(ds, i + 1)
        when(i % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (a, x) => a + x)
    total % 10 === 0
  }

  /** Credit-card detection with Luhn validation: counts 13-16-digit
    * card-shaped tokens (with optional dash/space groupings) whose
    * digit string passes the checksum, and redacts ONLY those —
    * non-validating card-shaped numbers are left alone, which is the
    * precision/recall trade the published pipelines make. */
  def withCardPii(df: DataFrame, text: String): DataFrame = {
    val shape = "\\b(?:\\d[ -]?){12,15}\\d\\b"
    val candidates = regexp_extract_all(col(text), lit(shape), lit(0))
    val valid = filter(candidates, c => {
      val ds = regexp_replace(c, "[ -]", "")
      (length(ds) >= 13) && (length(ds) <= 16) && luhnValid(ds)
    })
    df.withColumn("n_card", size(valid).cast("long"))
      .withColumn("card_redacted",
        aggregate(valid, col(text), (t, c) => replace(t, c, lit("<CARD>"))))
  }

  /** Per-kind match counts over the original text: adds `n_<kind>`
    * (long) per pattern plus `pii_total`. */
  def piiStats(df: DataFrame, text: String): DataFrame = {
    val withCounts = piiPatterns.foldLeft(df) { case (d, (kind, pat, _)) =>
      d.withColumn(s"n_$kind",
        regexp_count(col(text), lit(pat)).cast("long"))
    }
    withCounts.withColumn("pii_total",
      piiPatterns.map { case (kind, _, _) => col(s"n_$kind") }
        .reduce(_ + _))
  }

  /** Masked text: each pattern replaced by its typed placeholder, in
    * declaration order. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (_, pat, repl)) =>
      regexp_replace(t, pat, repl)
    }

  /** C4-style LINE-level cleaning (Raffel et al. 2020 §2.2, the
    * published heuristics): a document is split on newlines and a line
    * is kept only if it
    *  - has at least `minWordsPerLine` words,
    *  - ends in terminal punctuation (. ! ? or a closing quote),
    *  - does not contain "lorem ipsum" (case-insensitive), and
    *  - does not contain a curly brace (code/boilerplate tell).
    * Documents with fewer than `minKeptLines` surviving lines drop
    * entirely (C4 drops pages with < 3 sentences). All input columns
    * pass through (so the cleaner composes mid-pipeline), plus
    * `clean_text`, `n_lines`, `n_kept`.
    *
    * 100 TB posture: the split/filter/rejoin is ONE array expression
    * chain inside the scan stage — map-only, codegen'd, no exchange;
    * the whole filter runs at parquet-scan parallelism. */
  def c4LineFilter(df: DataFrame, text: String,
                   minWordsPerLine: Int = 3,
                   minKeptLines: Int = 1): DataFrame = {
    val lines = split(col(text), "\n")
    val kept = filter(lines, l =>
      (size(split(l, " ")) >= minWordsPerLine) &&
        l.rlike("[.!?\"]$") &&
        !lower(l).contains("lorem ipsum") &&
        !l.contains("{"))
    df.withColumn("__ks", kept)
      .filter(size(col("__ks")) >= minKeptLines)
      .withColumn("clean_text", array_join(col("__ks"), "\n"))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_kept", size(col("__ks")).cast("long"))
      .drop("__ks")
  }

  /** Pre-tokenization TEXT NORMALIZATION — the cleanup pass every
    * tokenizer/dedup pipeline runs first, expressed in the Java-regex
    * ∩ RE2 subset so the oracle applies the SAME rules:
    *  - control characters stripped,
    *  - typographic quotes/dashes folded to ASCII,
    *  - whitespace runs (incl. tabs/newlines) collapsed to one space,
    *  - leading/trailing space trimmed,
    * plus optional lowercasing. Deliberately NOT full NFKC (no ICU
    * dependency); the folding table covers the high-frequency web
    * cases the published pipelines special-case. Map-only. */
  def normalizeText(text: Column, lowercase: Boolean = false): Column = {
    val steps: Seq[(String, String)] = Seq(
      "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]" -> "",
      "[\\x{2018}\\x{2019}\\x{201b}]" -> "'",
      "[\\x{201c}\\x{201d}\\x{201f}]" -> "\"",
      "[\\x{2013}\\x{2014}\\x{2212}]" -> "-",
      "\\x{2026}" -> "...",
      "[\\x{00a0}\\x{2000}-\\x{200a}\\x{202f}\\x{205f}\\x{3000}]" -> " ",
      // explicit class == Java's \s; \x0B/\f are already stripped by
      // step 1, listed anyway so the expression is portable verbatim
      "[ \\t\\n\\x0B\\f\\r]+" -> " ")
    val folded = steps.foldLeft(text) { case (t, (pat, repl)) =>
      regexp_replace(t, pat, repl)
    }
    val trimmed = trim(folded)
    if (lowercase) lower(trimmed) else trimmed
  }

  /** Code-vs-prose scoring — the signal a mixed web corpus uses to
    * route documents to the code pipeline vs the text pipeline (and
    * that C4's curly-brace line rule crudely approximates). Three
    * published-heuristic families, all pure column expressions:
    * symbol density ({}[]();=), programming-keyword token hits, and
    * indented-line fraction. The composite is a bounded [0,1] score —
    * thresholding it is the router.
    *
    *   code_score = 0.5·min(1, 4·symbol_density)
    *              + 0.3·min(1, keyword_hits/4)
    *              + 0.2·indent_frac */
  private val codeKeywords = Seq("def", "return", "import", "var",
    "val", "if", "else", "for", "while", "class", "function", "const",
    "let", "void", "int", "public", "static")

  def withCodeScore(df: DataFrame, text: String): DataFrame = {
    val t = col(text)
    val symbols = length(t) -
      length(regexp_replace(t, "[{}\\[\\]();=]", ""))
    val toks = split(t, "[ \\n]+")
    val kw = size(filter(toks, w => w.isin(codeKeywords: _*)))
    val lines = split(t, "\n")
    val indented = size(filter(lines, l => l.startsWith("  ")))
    val d = df
      .withColumn("symbol_density",
        round(symbols.cast("double") /
          greatest(length(t), lit(1)), 6))
      .withColumn("keyword_hits", kw.cast("long"))
      .withColumn("indent_frac",
        round(indented.cast("double") /
          greatest(size(lines), lit(1)), 6))
    d.withColumn("code_score", round(
      least(col("symbol_density") * 4.0, lit(1.0)) * 0.5 +
        least(col("keyword_hits").cast("double") / 4.0, lit(1.0)) * 0.3 +
        col("indent_frac") * 0.2, 6))
  }

  /** Cavnar–Trenkle n-gram language ID ("N-Gram-Based Text
    * Categorization", SDAIR 1994) — the TRAINED tier above
    * [[withLangId]]'s stopword voting, and the architecture langid
    * tools still use: a language is its rank-ordered top character
    * n-gram profile, and a document classifies to the language whose
    * profile is closest under the out-of-place measure
    *
    *   dist(doc, L) = Σ_{g ∈ topK(doc)} |rank_doc(g) − rank_L(g)|,
    *   missing grams pay the max penalty `profileSize`.
    *
    * Profiles train on the corpus itself via its `langCol` (the
    * supervised-label recipe of the paper; a held-out split works the
    * same way). ALL-INTEGER math — counts, ranks, penalties — with
    * deterministic (count desc, gram asc) rank ties and (dist, lang)
    * argmin ties, so the registered query carries an exact SQL
    * oracle, no float anywhere.
    *
    * 100 TB posture: one char-n-gram explode (linear in chars ×
    * maxN) feeding keyed count aggregates; the language profile is
    * langs × profileSize rows, broadcast; the doc profile's rank
    * window sorts WITHIN a doc's grams only. No driver work. */
  def ngramLangId(df: DataFrame, id: String, text: String,
                  langCol: String, profileSize: Int = 40,
                  docProfile: Int = 20, maxN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(profileSize > 0 && docProfile > 0 && maxN >= 1)
    val t = col(text)
    val gramArrays = (1 to maxN).map { n =>
      if (n == 1) split(t, "")
      else when(length(t) >= n,
        transform(sequence(lit(0), length(t) - n),
          i => t.substr(i + 1, lit(n))))
        .otherwise(array().cast("array<string>"))
    }
    // ONE gram explode, aggregated to per-(doc, gram) counts and
    // materialized — both profiles derive from it (the one-shot-frame
    // pattern: two consumers would otherwise each re-run the
    // corpus-wide char explode, the operator's dominant cost)
    val gramCounts = df.select(col(id), col(langCol).as("__lang"),
        explode(concat(gramArrays: _*)).as("__g"))
      .groupBy(col(id), col("__lang"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val langProf = gramCounts.groupBy("__lang", "__g")
      .agg(sum("__c").as("__c"))
      .withColumn("__rl", row_number().over(Window.partitionBy("__lang")
        .orderBy(col("__c").desc, col("__g").asc)).cast("long"))
      .filter(col("__rl") <= profileSize)
      .select(col("__lang").as("__cand"), col("__g"), col("__rl"))
    val docProf = gramCounts
      .withColumn("__rd", row_number().over(Window.partitionBy(col(id))
        .orderBy(col("__c").desc, col("__g").asc)).cast("long"))
      .filter(col("__rd") <= docProfile)
      .select(col(id), col("__g"), col("__rd"))
    val langs = langProf.select(col("__cand")).distinct()
    val dists = docProf.crossJoin(broadcast(langs))
      .join(broadcast(langProf), Seq("__cand", "__g"), "left")
      .withColumn("__pen",
        coalesce(abs(col("__rd") - col("__rl")), lit(profileSize.toLong)))
      .groupBy(col(id), col("__cand"))
      .agg(sum("__pen").as("__dist"))
    dists.groupBy(col(id))
      .agg(min(struct(col("__dist"), col("__cand"))).as("__best"))
      .select(col(id), col("__best.__cand").as("lang_pred_ngram"),
        col("__best.__dist").as("oop_dist"))
  }

  /** Corpus DRIFT monitor: KL divergence of each stratum's hashed
    * unigram distribution against the REST of the corpus — the
    * composition-monitoring signal a continuously-assembled dataset
    * tracks (a source whose token distribution wanders from the rest
    * of the mixture shows up as a rising KL).
    *
    *   KL(p_s ‖ q_s) = Σ_b p_b · ln(p_b / q_b)
    *   p_b = (c_sb + 1)/(n_s + B),  q_b over the complement counts
    *
    * Unigrams hash into `buckets` buckets with the engine-portable
    * polynomial hash (the DSIR feature map — hashed KL is the bounded-
    * memory estimate of the true divergence), both sides Laplace-
    * smoothed over the FULL 0..B−1 grid (absent buckets still carry
    * probability mass and must contribute), per-stratum fold ordered
    * by bucket → reproducible by any engine.
    *
    * 100 TB posture: ONE unigram explode into a (stratum, bucket)
    * count aggregate (map-side combinable), localCheckpoint-
    * materialized because three consumers hang off it (per-stratum
    * totals, per-bucket totals, the grid join) — everything downstream
    * is strata×B rows. */
  def vocabDriftKl(df: DataFrame, text: String, stratum: String,
                   buckets: Int = 256): DataFrame =
    vocabDriftKlFromCounts(
      hashedVocabCounts(df, text, stratum, buckets), stratum, buckets)

  /** The drift monitor's COUNT relation: (stratum, bucket, cnt) hashed
    * unigram counts — map-side combinable, merge = addition, so a
    * UNION of count increments (e.g. the streaming sink of
    * `StreamingDetect.windowedVocabCounts`) finishes to the same KL
    * as one batch pass (StreamingSpec pins it). */
  def hashedVocabCounts(df: DataFrame, text: String, stratum: String,
                        buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    df.select(col(stratum), explode(split(col(text), " ")).as("__g"))
      .select(col(stratum),
        pmod(rollingHash(col("__g")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col(stratum), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Finisher over a (stratum, bucket, cnt) relation built with the
    * same `buckets`: per-stratum KL vs the rest of the corpus. Safe
    * over a union of increments — duplicate (stratum, bucket) rows
    * merge by addition first, the count relation's merge law. */
  def vocabDriftKlFromCounts(countsIn: DataFrame, stratum: String,
                             buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    val counts = countsIn
      .groupBy(col(stratum).as("__s"), col("bucket").as("__b"))
      .agg(sum("cnt").as("__c"))
      .localCheckpoint() // one strata×B relation shared by 3 consumers
    val spark = countsIn.sparkSession
    val grid = broadcast(counts.select(col("__s")).distinct()
      .crossJoin(spark.range(buckets).select(col("id").as("__b"))))
    val full = grid.join(counts, Seq("__s", "__b"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val bTot = full.groupBy("__b").agg(sum("__c").as("__bt"))
    val sTot = full.groupBy("__s").agg(sum("__c").as("__st"))
    val gTot = bTot.agg(sum("__bt").as("__gt"))
    full.join(broadcast(bTot), Seq("__b"))
      .join(broadcast(sTot), Seq("__s"))
      .crossJoin(broadcast(gTot))
      .withColumn("__p", (col("__c") + 1).cast("double") /
        (col("__st") + lit(buckets)))
      .withColumn("__q",
        (col("__bt") - col("__c") + 1).cast("double") /
          (col("__gt") - col("__st") + lit(buckets)))
      .withColumn("__t", col("__p") * log(col("__p") / col("__q")))
      .groupBy(col("__s").as(stratum))
      .agg(max("__st").as("n_tokens"),
        round(Folds.orderedSum(col("__b"), col("__t")), 6)
          .as("kl_vs_rest"))
  }

  /** Polynomial rolling-hash fingerprint of the whole document (mod a
    * Mersenne-ish prime, codegen'd via the `aggregate` higher-order
    * function — no UDF).
    *
    * Tokenization is per CODE POINT, including non-BMP characters:
    * Spark's `split(text, "")` operates on UTF8String (one element
    * per code point — it does NOT split surrogate pairs the way
    * `java.lang.String.split` would), and `ascii` returns the full
    * code point of a multi-byte character. DuckDB's
    * `string_split(s, '')` + `ascii` agree exactly, so every oracle
    * built on this hash (q_hll, q_cms, q_kmv, q_nbq, q_hashtf,
    * q_fingerprint, q_dsir) is engine-identical on arbitrary Unicode,
    * not just ASCII — TextAnalysisSpec pins the surrogate-pair case. */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => pmod(acc * lit(1000003L) + x, lit(2147483647L)))

  /** Winnowing-style shingle fingerprints: k-char shingles hashed, the
    * minimum hash per window of w shingles — a document sketch for
    * near-dup lookup. Returns distinct (id, fingerprint) rows.
    *
    * Shuffle-free formulation: the shingle hashes and sliding-window
    * minima are per-document array expressions, and `array_distinct`
    * dedups within the document BEFORE the explode — since the document
    * id is part of the output key, that per-doc dedup makes a global
    * `distinct()` redundant, so the whole operator runs in the scan
    * stage with no exchange at all. (An earlier posexplode+window
    * version spent its time sorting 10M shingle rows per series.)
    *
    * Two optimizer traps, both of which re-derive the O(n) hash array
    * per window position (quadratic — observed as a wedged scan stage on
    * ~300-char docs):
    *  - `array_min(slice(hs, ...))` over a SINGLE-USE alias:
    *    CollapseProject inlines a once-referenced projection into the
    *    consuming lambda. The `least`-of-`element_at` form references
    *    the alias w times, which keeps the projection boundary.
    *  - plain `explode`: InferFiltersFromGenerate synthesizes
    *    `size(fps) > 0` and predicate pushdown substitutes the FULL
    *    nested expression through both projections into the scan filter.
    *    `explode_outer` admits no inferred filter, and the length guard
    *    already proves every kept document yields >= 1 fingerprint, so
    *    the outer variant emits identical rows. */
  def winnowing(df: DataFrame, id: String, text: String, k: Int = 8,
                w: Int = 4): DataFrame = {
    require(w >= 2, s"window w=$w must be >= 2 (w=1 is the identity sketch)")
    val n = length(col(text))
    val hashes = transform(sequence(lit(0), n - k),
      i => xxhash64(col(text).substr(i + 1, lit(k))))
    df.filter(n >= k + w - 1)
      .select(col(id), hashes.as("__hs"), (n - k - w + 1).as("__m"))
      .select(col(id),
        array_distinct(transform(sequence(lit(0), col("__m")),
          j => least((1 to w).map(o => element_at(col("__hs"), j + o)): _*)))
          .as("__fps"))
      .select(col(id), explode_outer(col("__fps")).as("fingerprint"))
  }

  /** DIRECTIONAL containment detection over winnowing sketches — the
    * quote/excerpt tier of dedup (Broder's containment coefficient,
    * "On the resemblance and containment of documents", 1997, computed
    * over the Schleimer-Wilkerson-Aiken winnowing sketch): a doc pasted
    * inside a larger one has low symmetric Jaccard but containment ≈ 1,
    * so Jaccard-tier dedup misses it by construction.
    *
    *   containment(a ⊆ b) = |fp(a) ∩ fp(b)| / |fp(a)|
    *
    * Emits one row per ORDERED pair (id_a contained-in id_b) at or
    * above `minContainment`, with the shared-fingerprint count and
    * both sketch sizes. Both the intersection and the denominators are
    * computed over the SAME capped fingerprint universe (fingerprints
    * in more than `maxDocFreq` docs dropped — boilerplate removal and
    * the hot-bucket join guard in one move), so the ratio stays a true
    * fraction of the compared sets.
    *
    * 100 TB posture: the [[winnowing]] sketch is map-only; everything
    * after is fingerprint-bucketed — the pair join fans out only
    * within a fingerprint's (capped) posting list, exactly the
    * `ngramJaccard` shape, and the count aggregates are map-side
    * combinable. Counts are exact integers → deterministic → the
    * registered query carries a fixture oracle. */
  def containment(df: DataFrame, id: String, text: String, k: Int = 8,
                  w: Int = 4, minContainment: Double = 0.5,
                  maxDocFreq: Int = 1000): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment=$minContainment must be in (0, 1]")
    val fps = winnowing(df, id, text, k, w)
    val cool = fps.groupBy("fingerprint")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select("fingerprint")
    val capped = fps.join(cool, Seq("fingerprint"))
    val sizes = capped.groupBy(col(id)).agg(count(lit(1)).as("__sz"))
    val a = capped.select(col("fingerprint"), col(id).as("id_a"))
    val b = capped.select(col("fingerprint"), col(id).as("id_b"))
    a.join(b, Seq("fingerprint"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fps"))
      .join(sizes.select(col(id).as("id_a"), col("__sz").as("fps_a")),
        Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("__sz").as("fps_b")),
        Seq("id_b"))
      .withColumn("containment",
        round(col("shared_fps").cast("double") / col("fps_a"), 6))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("shared_fps"),
        col("fps_a"), col("fps_b"), col("containment"))
  }

  /** Character-level Shannon entropy (nats) of a text column — the
    * deterministic cousin of the compression-ratio quality signal the
    * web-corpus pipelines use (RefinedWeb/Gopher family): boilerplate,
    * repeated padding, and binary junk score LOW, natural prose sits
    * near the language's ~2.3–3.2 nat band, random noise scores high.
    *
    * Computed as `H = ln n − (Σ_c c·ln c)/n` over the per-character
    * counts — a PURE column expression (sorted-distinct fold; the
    * count of each distinct char via one list filter), so the signal
    * rides the scan stage with NO shuffle and no per-doc explode.
    * Distinct-char cardinality bounds the work per row (≤ alphabet
    * size), not text length squared. NULL on empty/null text. */
  def charEntropy(text: Column): Column = {
    // per-CODE-POINT characters: `(?s).` matches one code point in
    // java.util.regex (a surrogate pair is ONE match), matching the
    // oracle's per-codepoint string_split. (Spark's UTF8String-based
    // `split(text, "")` is ALSO per-code-point — verified, see
    // rollingHash — so either form works; the regexp spells the
    // contract out.)
    val chars = regexp_extract_all(text, lit("(?s)."), lit(0))
    val n = size(chars).cast("double")
    val counts = transform(array_sort(array_distinct(chars)),
      x => size(filter(chars, c => c === x)).cast("double"))
    val sumClnC = aggregate(counts, lit(0.0),
      (a, c) => a + c * log(c))
    // guard on length(text), not size(chars): the engines disagree on
    // splitting the empty string ([""] vs []) and must never reach it
    when(text.isNotNull && length(text) > 0, log(n) - sumClnC / n)
  }

  /** Flesch readability signals (Flesch 1948 / Kincaid 1975) — the
    * classic data-quality filter complement to [[qualitySignals]]: a
    * pretraining corpus wants prose in a sane complexity band, and
    * these are the standard band edges.
    *
    *   ease  = 206.835 − 1.015·(W/S) − 84.6·(Y/W)
    *   grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59
    *
    * with deterministic engine-shared counting conventions (all three
    * counts are `regexp_count` in the Java∩RE2 subset, so any engine
    * reproduces them exactly):
    *  - S sentences = runs of `[.!?]+`, floored at 1 (headline text);
    *  - W words     = runs of non-whitespace, floored at 1 — written
    *    as the EXPLICIT class `[^ \t\n\f\r\x0B]+` because `\S` is NOT
    *    engine-portable (Java's `\s` includes vertical tab \x0B,
    *    RE2/DuckDB's does not — verified divergence);
    *  - Y syllables = vowel GROUPS `[aeiouyAEIOUY]+` — the standard
    *    cheap syllable proxy (no silent-e/diphthong adjustments; a
    *    documented heuristic, not a dictionary).
    *
    * PURE column expressions — the whole signal rides the scan stage
    * (the q_entropy plan shape). Returns a struct column
    * (n_sentences, n_words, n_syllables, flesch_ease, fk_grade);
    * NULL on null/empty text. */
  def readability(text: Column): Column = {
    val s = greatest(regexp_count(text, lit("[.!?]+")), lit(1))
      .cast("long")
    val w = greatest(
      regexp_count(text, lit("[^ \\t\\n\\f\\r\\x0B]+")), lit(1))
      .cast("long")
    val y = regexp_count(text, lit("[aeiouyAEIOUY]+")).cast("long")
    val wps = w.cast("double") / s.cast("double")
    val ypw = y.cast("double") / w.cast("double")
    val ease = lit(206.835) - lit(1.015) * wps - lit(84.6) * ypw
    val grade = lit(0.39) * wps + lit(11.8) * ypw - lit(15.59)
    when(text.isNotNull && length(text) > 0,
      struct(s.as("n_sentences"), w.as("n_words"),
        y.as("n_syllables"), ease.as("flesch_ease"),
        grade.as("fk_grade")))
  }

  /** Top-k PMI collocations (Church & Hanks 1990) — phrase mining over
    * the corpus for vocabulary/tokenizer construction and boilerplate
    * discovery: a high-PMI adjacent pair ("San Francisco", "click
    * here") is a unit the tokenizer should own and the dedup tier
    * should know about.
    *
    *   pmi(w1, w2) = ln( B(w1,w2) · N / (C(w1) · C(w2)) )
    *
    * with B adjacent-bigram counts, C unigram counts, N total tokens —
    * all exact integers from two aggregates; the single ln runs on a
    * double ratio whose numerator/denominator products are exact below
    * 2^53, and the score is round-6 pinned (the house ln convention,
    * q_entropy/q_hbos precedent). `minCount` suppresses the
    * low-support PMI blowup (PMI of a hapax pair is huge and useless —
    * the standard filter).
    *
    * Distribution: one explode + TWO keyed aggregates (bigram, word);
    * the unigram relation joins back by word key twice; top-k by
    * (score, bigram) plans as TakeOrdered — no global sort. */
  def collocations(df: DataFrame, text: String, minCount: Int = 5,
                   k: Int = 20): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be >= 1")
    // two SEPARATE aggregates (tokens; bigrams), not the single
    // kind-tagged aggregate the streaming finisher consumes: the
    // batch face aggregates the raw corpus, where one union-tagged
    // exchange carrying every hapax bigram struct measured 6x slower
    // than the split form; the finisher reads pre-aggregated window
    // increments, where the union shape is the right one. Counts are
    // identical either way (StreamingSpec pins finisher ≡ this).
    val toks = df.select(split(col(text), " ").as("__w"))
      .filter(size(col("__w")) >= 1)
    val uni = toks.select(explode(col("__w")).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy("__t").agg(count(lit(1)).as("__c"))
      .localCheckpoint() // shared by the N aggregate + two joins
    val n = uni.agg(sum("__c").as("__n"))
    val bi = toks
      .filter(size(col("__w")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__w")) - 2),
        i => struct(element_at(col("__w"), i + 1).as("__w1"),
          element_at(col("__w"), i + 2).as("__w2")))).as("__b"))
      .select(col("__b.__w1").as("__w1"), col("__b.__w2").as("__w2"))
      .filter(col("__w1") =!= "" && col("__w2") =!= "")
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") >= minCount)
    pmiTopK(bi, uni, n, k)
  }

  /** The mergeable count relation behind [[collocations]]: one row per
    * (kind, w1, w2) with kind ∈ u|b — unigrams carry w2 = ''. Grams
    * for BOTH kinds emit from one array expression and count through
    * ONE aggregation; duplicate keys merge by ADDITION, which is what
    * makes the windowed streaming face
    * ([[graft.streaming.StreamingDetect.windowedCollocCounts]]) a
    * plain windowed count with this as its batch finisher input. */
  def collocGramCounts(df: DataFrame, text: String): DataFrame =
    df.select(collocGrams(col(text)).as("__g"))
      .select(explode(col("__g")).as("__e"))
      .groupBy(col("__e.kind").as("kind"), col("__e.w1").as("w1"),
        col("__e.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-row gram array shared by the batch and windowed count faces:
    * non-empty unigrams as ('u', t, '') plus non-empty adjacent
    * bigrams as ('b', w1, w2). Null text yields an empty array. */
  private[graft] def collocGrams(text: Column): Column = {
    val w = split(text, " ")
    val uni = transform(filter(w, t => t =!= ""),
      t => struct(lit("u").as("kind"), t.as("w1"), lit("").as("w2")))
    val bi = filter(
      transform(sequence(lit(0), greatest(size(w) - 2, lit(0))),
        i => struct(lit("b").as("kind"),
          element_at(w, i + 1).as("w1"),
          element_at(w, i + 2).as("w2"))),
      s => s.getField("w2").isNotNull && s.getField("w1") =!= "" &&
        s.getField("w2") =!= "")
    when(text.isNotNull,
      concat(uni, when(size(w) >= 2, bi)
        .otherwise(array().cast("array<struct<kind:string,w1:string,w2:string>>"))))
      .otherwise(array()
        .cast("array<struct<kind:string,w1:string,w2:string>>"))
  }

  /** Batch finisher over (possibly window-incremental) gram counts —
    * merges by addition, then the PMI/minCount/top-k stage of
    * [[collocations]]. `counts` is (kind, w1, w2, cnt) or the raw
    * union of windowed increments (any extra columns are ignored). */
  def collocationsFromCounts(counts: DataFrame, minCount: Int = 5,
                             k: Int = 20): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be >= 1")
    // checkpoint the MERGED relation: it feeds the unigram side (N
    // aggregate + two joins) AND the bigram side — pre-aggregated
    // increments are small, so one materialization beats re-merging
    // the sink union once per consumer
    val merged = counts.groupBy("kind", "w1", "w2")
      .agg(sum("cnt").as("__c"))
      .localCheckpoint()
    val uni = merged.filter(col("kind") === "u")
      .select(col("w1").as("__t"), col("__c"))
    val n = uni.agg(sum("__c").as("__n"))
    val bi = merged.filter(col("kind") === "b" && col("__c") >= minCount)
      .select(col("w1").as("__w1"), col("w2").as("__w2"),
        col("__c").as("__bc"))
    pmiTopK(bi, uni, n, k)
  }

  /** Shared PMI + top-k stage: bi = (__w1, __w2, __bc),
    * uni = (__t, __c), n = 1-row (__n). */
  private def pmiTopK(bi: DataFrame, uni: DataFrame, n: DataFrame,
                      k: Int): DataFrame =
    bi.join(uni.select(col("__t").as("__w1"), col("__c").as("__c1")),
        Seq("__w1"))
      .join(uni.select(col("__t").as("__w2"), col("__c").as("__c2")),
        Seq("__w2"))
      .crossJoin(broadcast(n))
      .select(col("__w1").as("w1"), col("__w2").as("w2"),
        col("__bc").as("pair_count"),
        round(log((col("__bc").cast("double") * col("__n").cast("double"))
          / (col("__c1").cast("double") * col("__c2").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
}
