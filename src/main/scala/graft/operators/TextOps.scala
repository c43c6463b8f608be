package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * quality scoring, language-ID heuristic, document fingerprinting.
  * All pure column algebra (codegen'd, no UDFs) — each is a narrow per-row
  * transform that scales embarrassingly: no shuffle, full pushdown.
  */
object TextOps {

  /** Whitespace tokenization; `\s+` with trim so runs of spaces don't
    * produce empty tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword segmentation regex: splits on word/digit/punct
    * boundaries the way byte-pair pretokenizers do (letters runs, digit
    * runs, single punct marks each count as a token). */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(t) > 0)).cast("long")

  /** Quality heuristics: length, mean token length, stopword ratio,
    * punctuation/digit/whitespace character ratios. */
  def qualityColumns(text: Column, stopwords: Seq[String]): Seq[Column] = {
    val n = tokenCount(text)
    val chars = length(text).cast("double")
    Seq(
      length(text).cast("long").as("n_chars"),
      n.as("n_tokens"),
      round((chars - (n - lit(1)).cast("double")) / n.cast("double"), 4)
        .as("avg_token_len"),
      round(size(filter(tokens(text),
          t => t.isInCollection(stopwords))).cast("double") / n.cast("double"), 4)
        .as("stopword_ratio"),
      round((chars - length(regexp_replace(text, "[^A-Za-z0-9 ]", "")))
        / chars, 4).as("punct_ratio"))
  }

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", §A1.1) — the
    * published heuristic filter set a pretraining pipeline applies before
    * dedup: word-count bounds [50, 100k], mean word length [3, 10],
    * hash-to-word AND ellipsis-to-word ratios ('#'; '...' or '…') each
    * ≤ 0.1 (the paper cuts on EITHER symbol's ratio separately, not
    * their sum), ≤ 90% of lines bullet-started,
    * ≤ 30% of lines ellipsis-ended, ≥ 80% of words containing a letter,
    * and ≥ 2 distinct stopwords present (`requiredStops`; default the
    * paper's list — pass a corpus-appropriate list when the vocabulary
    * differs). Emits the per-rule metrics plus the conjunction
    * (`gopher_pass`), so downstream can filter on the flag or re-weight
    * on the metrics. Pure per-row column algebra: no UDFs, no shuffle,
    * prunes to the text column.
    *
    * The pass flag compares UNROUNDED ratios: every operand is a small
    * exact integer, so the quotients are bit-identical across engines —
    * the rounded twins are for output only. */
  def gopherColumns(text: Column,
      requiredStops: Seq[String] = Seq(
        "the", "be", "to", "of", "and", "that", "have", "with")): Seq[Column] = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val meanWordLen =
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / n
    val hashCount = (length(text) - length(translate(text, "#", ""))).cast("long")
    // '...' counted as non-overlapping triples; '…' (U+2026) one per char
    val ellipsisCount =
      (((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3)
        .cast("long")
        + (length(text) - length(translate(text, "…", ""))).cast("long"))
    val hashRatio = hashCount.cast("double") / n
    val ellipsisRatio = ellipsisCount.cast("double") / n
    val lines = split(text, "\n")
    val nLines = size(lines).cast("double")
    val bulletRatio = size(filter(lines,
      l => substring(ltrim(l), 1, 1).isInCollection(Seq("-", "*", "•"))))
      .cast("double") / nLines
    val ellipsisLineRatio = size(filter(lines,
      l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
      .cast("double") / nLines
    val alphaRatio =
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / n
    val nStops = size(filter(
      array(requiredStops.map(lit): _*), w => array_contains(toks, w)))
      .cast("long")
    Seq(
      size(toks).cast("long").as("n_words"),
      round(meanWordLen, 4).as("mean_word_len"),
      round(hashRatio, 4).as("hash_ratio"),
      round(ellipsisRatio, 4).as("ellipsis_ratio"),
      round(bulletRatio, 4).as("bullet_line_ratio"),
      round(ellipsisLineRatio, 4).as("ellipsis_line_ratio"),
      round(alphaRatio, 4).as("alpha_word_ratio"),
      nStops.as("n_stopwords"),
      (size(toks).between(50, 100000) &&
        meanWordLen.between(3.0, 10.0) &&
        hashRatio <= 0.1 &&
        ellipsisRatio <= 0.1 &&
        bulletRatio <= 0.9 &&
        ellipsisLineRatio <= 0.3 &&
        alphaRatio >= 0.8 &&
        nStops >= 2).as("gopher_pass"))
  }

  /** Content fingerprint: md5 of the raw bytes (stable across engines). */
  def fingerprint(text: Column): Column = md5(text)

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD
    * '03 — the MOSS algorithm): hash every k-token gram, slide a
    * w-gram window, and keep each window's minimal hash (rightmost on
    * ties). Guarantees: every window of w consecutive grams contributes a
    * fingerprint (so any shared substring of ≥ k+w−1 tokens is caught by
    * a shared fingerprint), at an expected density of 2/(w+1) — the
    * substring-level dedup/contamination primitive between full-doc
    * hashing (too coarse) and all-gram indexing (too big).
    *
    * Returns (doc_id, pos, fp): the selected gram positions (1-based)
    * and their 60-bit portable md5 hashes ([[Sampling.hash60]] family, so
    * a SQL oracle replays every selection). One fused kernel per document
    * ([[graft.functions.WinnowFingerprints]]): incremental md5 over the
    * token bytes, a monotonic deque for the sliding minimum, and
    * record-on-change emission that IS the distinct — so the plan is
    * scan → byDoc exchange → project → explode, with no window-membership
    * explode, no struct-min SortAggregate, and no corpus-wide distinct
    * (the composed form [[winnowComposed]] pays all three; WinnowPeek
    * measured them at ~0.6 s of its 1.04 s at sf0.1). */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // pre-explode doc redistribution (see Dedup.byDoc): the per-gram
    // md5 digest is CPU-bound, and a single-row-group corpus file would
    // otherwise run the whole fingerprint stage as one task
    Dedup.byDoc(df, idCol)
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.GraftFunctions.winnowFingerprints(
          tokens(col(textCol)), k, w)).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /** The composed column-algebra form of [[winnow]] — gram explode →
    * bounded window-membership explode (≤ w windows per gram) →
    * per-(doc, win) argmin aggregation → distinct. Kept as the
    * independent second implementation the equality spec checks the
    * fused kernel against (same role as the portable MinHash twins). */
  private[graft] def winnowComposed(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    // G (the doc's gram count) is a pure function of the token array, so
    // it is computed BEFORE the explode and carried per gram row — the
    // previous form recovered it as max(pos) OVER (PARTITION BY doc_id),
    // a whole extra exchange + window stage for a value the generator
    // already knew (measured −0.3 s/gate at sf0.1, plans identical
    // otherwise).
    val grams = Dedup.byDoc(df, idCol)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"),
        greatest(size(col("t")) - (k - 1), lit(1)).cast("long").as("n_grams"),
        explode(transform(
          sequence(lit(1), greatest(size(col("t")) - (k - 1), lit(1))),
          i => struct(i.as("pos"), slice(col("t"), i, lit(k)).as("g")))).as("s"))
      .filter(size(col("s.g")) === k) // drops the short-doc sentinel index
      .select(col("doc_id"), col("s.pos").cast("long").as("pos"),
        greatest(col("n_grams") - (w - 1), lit(1L)).as("last_win"),
        Sampling.hash60(concat_ws(" ", col("s.g"))).as("h"))
    // gram at pos belongs to windows [pos-w+1, pos] clipped to
    // [1, G-w+1] (G = gram count; all grams share window 1 when G < w)
    grams
      .withColumn("win", explode(sequence(
        greatest(col("pos") - (w - 1), lit(1L)),
        least(col("pos"), col("last_win")))))
      .groupBy(col("doc_id"), col("win"))
      // struct min = (h asc, -pos asc) = minimal hash, rightmost on ties
      .agg(min(struct(col("h"), (-col("pos")).as("np"))).as("m"))
      .select(col("doc_id"), (-col("m.np")).as("pos"), col("m.h").as("fp"))
      .distinct()
  }

  /** Substring-overlap pairs from shared [[winnow]] fingerprints — what
    * the fingerprints are for: two docs sharing `minShared` selected rare
    * fingerprints share substantial verbatim token runs. Fingerprints
    * appearing in more than `maxDf` docs are suppressed first (the
    * standard boilerplate/hot-gram df-cut in fingerprint dedup), which is
    * also what keeps the fp equi-join selective at corpus scale: candidate
    * pairs per fingerprint are bounded by maxDf². */
  def winnowOverlap(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long, maxDf: Long): DataFrame = {
    // materialize the fingerprint frame once: it feeds the df-cut AND both
    // sides of the candidate self-join — uncached, the full winnow
    // pipeline (explode + window + argmin agg) would run three times
    // (same lifecycle as the minhash band cache: harness clearCache())
    val fps = CacheOnce(winnow(df, idCol, textCol, k, w)
      .select(col("doc_id"), col("fp")).distinct())
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val f = fps.join(rare, Seq("fp"))
    f.as("a")
      .join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Canonical normalization for dedup/training: lowercase, trim, collapse
    * whitespace runs to single spaces. RE2-safe pattern (no lookaround),
    * so any engine reproduces it. */
  def normalize(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** PII redaction: emails → <EMAIL>, long digit runs (account/phone
    * numbers) → <NUM>. Patterns are RE2-safe character classes — the
    * subset of regex that behaves identically in Java, RE2, and DuckDB.
    * Per-row, no shuffle; at 100 TB this is a pure map stage. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9]{6,}", "<NUM>")

  /** Polynomial rolling hash over characters (Rabin–Karp style) modulo a
    * large prime, computed with `aggregate` over the char codepoints —
    * deterministic, codegen-friendly, no UDF. Modular form keeps the
    * accumulator < 1e9+7 so `acc * P + c` never overflows a long under
    * ANSI arithmetic. */
  def rollingHash(text: Column): Column = {
    val M = 1000000007L // prime modulus; acc*P stays well under 2^63
    val P = 1000003L
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, c) => (acc * lit(P) + c) % lit(M))
  }

  /** Intra-document repetition stats (the Gopher/C4-style repetition
    * signals): distinct-token ratio and the most-frequent token's share.
    * Two-level aggregation — per-(doc, token) counts then per-doc rollup —
    * both map-side partial, one shuffle key (doc_id). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.byDoc(df, idCol)
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .select(col("doc_id"),
        col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens").cast("double"), 4)
          .as("distinct_ratio"),
        round(col("top_cnt").cast("double") / col("n_tokens").cast("double"), 4)
          .as("top_token_ratio"))

  /** Character n-gram profile language-ID heuristic: scores text against
    * tiny per-language stopword profiles and picks the argmax (returns
    * "und" when nothing matches). Profiles are the classic function words;
    * this is the standard n-gram/stopword LID shape at pipeline scale —
    * one pass, no shuffle. */
  val lidProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores: Seq[(String, Column)] = lidProfiles.toSeq.sortBy(_._1).map {
      case (lang, words) =>
        lang -> size(filter(toks, t => t.isInCollection(words))).cast("double")
    }
    // struct-argmax with a strict > comparison: scanning in alphabetical
    // lang order, a later lang only displaces the incumbent when its score
    // is strictly higher, so the first (alphabetical) argmax wins ties
    val best = scores.map { case (lang, s) =>
      struct(s.as("s"), lit(lang).as("l"))
    }.reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** Per-doc bigram occurrences (doc_id, w1, w2) — NOT distinct: language
    * modeling counts token occurrences, unlike the set semantics of
    * [[graft.operators.Dedup.tokenSet]]. Docs with fewer than two tokens
    * contribute no rows. */
  private def bigramOccurrences(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Dedup.byDoc(df, idCol)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"), explode(transform(
          sequence(lit(1), greatest(size(col("t")) - 1, lit(1))),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), (i + 1).cast("int")).as("w2")))).as("bg"))
      .filter(col("bg.w2").isNotNull) // drops the len<2 sentinel index
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Self-trained bigram-LM quality score — the KenLM-perplexity filter
    * pattern with the corpus itself as the model. Add-one-smoothed
    * conditional logprob averaged over the doc's bigrams:
    *
    *   score(d) = avg over (w1,w2) in d of ln((C(w1,w2)+1) / (C(w1)+V))
    *
    * where C counts bigram occurrences corpus-wide, C(w1) counts w1 as a
    * bigram context, and V is the corpus vocabulary size. Near-zero (less
    * negative) = stereotypical text; strongly negative = rare/garbled —
    * filter both tails for pretraining curation.
    *
    * Scale shape: two corpus-wide count aggregations plus hash joins of
    * the doc bigrams against them — all linear, shuffled on the bigram /
    * context keys; no corpus-scale state is ever broadcast (V is a 1-row
    * cross join, the scalar-subquery pattern). */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val big = bigramOccurrences(df, idCol, textCol)
    val bigramCounts = big.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    // C(w1) = Σ_w2 C(w1,w2): folding the context counts from the bigram
    // aggregate (instead of a second groupBy over the raw occurrences)
    // drops one whole corpus tokenize+explode+shuffle — the second agg
    // reads the DISTINCT-bigram rows, orders of magnitude smaller than
    // the occurrence stream at corpus scale
    val contextCounts = bigramCounts.groupBy("w1").agg(sum("cnt").as("ctx"))
    val vocab = df
      .select(explode(tokens(col(textCol))).as("w")).distinct()
      .agg(count(lit(1)).as("vs"))
    val scored = big
      .join(bigramCounts, Seq("w1", "w2"))
      .join(contextCounts, Seq("w1"))
      .crossJoin(vocab) // 1 row — scalar-subquery pattern
      .select(col("doc_id"),
        log((col("cnt") + lit(1.0)) / (col("ctx") + col("vs"))).as("lp"))
    df.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(count(col("lp")).as("n_bigrams"),
        round(avg(col("lp")), 4).as("lm_score"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * document by its LM score ([[lmScore]]; higher = more fluent) and
    * split the corpus into `k` quality tiers — head/middle/tail for the
    * canonical k = 3 — the standard pretraining-data triage step between
    * scoring and sampling.
    *
    * Scale shape: the global rank comes from [[TotalOrder.globalRowNumber]]
    * (range partition + per-partition window), NEVER a corpus-wide
    * `ntile` window — the single-partition sort that would be. Tier
    * boundaries then follow from the rank and the total count (one
    * broadcast scalar) with the exact SQL NTILE convention (first
    * `n mod k` tiers one row larger), so a SQL engine's
    * `ntile(k) OVER (ORDER BY score DESC, id)` replays the assignment
    * row for row.
    *
    * The rank key is the ROUNDED score (ties broken by id): the rounded
    * value is the cross-engine-stable one — ranking on the raw double
    * would let a last-ulp summation difference flip a tier boundary.
    * Docs with no bigrams (score null, only possible for one-token docs)
    * sort last, matching SQL's NULLS LAST under DESC. */
  def pplBuckets(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val scored = lmScore(df, idCol, textCol)
    // lmScore emits one row per DISTINCT id (its groupBy collapses
    // duplicate ids), so the count scalar is the distinct-id count of the
    // raw input — one slim two-stage agg, still cheaper than another
    // pass over the cached score frame, and exact when ids repeat
    val nDocs = df.agg(count_distinct(col(idCol)).as("n_docs"))
    // numeric rank key: the rounded score ×10⁴ is an exact small integer
    // (lmScore rounds to 4 decimals; scores are strictly negative, so
    // −score ∈ (0, ~30]), and (−score, id) packs into one long — long
    // order = score descending, id ascending. Numeric keeps TotalOrder
    // on its memoized-boundary-sketch path (the string fallback pays an
    // extra range-sample pass per call — measured 2.6 s vs 1.0 s for
    // this gate at bench sf). Null scores (one-token docs) take a
    // sentinel above any real −score×10⁴ = NULLS LAST. Precondition:
    // 0 ≤ id < 2⁴⁰ and score > −100 — both hold for any corpus this
    // engine ingests (ids are table keys, scores are per-bigram log
    // averages); a generic caller with wider ids re-keys first. The
    // guard below makes a violation FAIL LOUDLY (raise_error names the
    // precondition) instead of silently mis-ranking — per-row cost is
    // two codegen'd comparisons on the already-computed operands.
    val scaledRaw = round(-col("lm_score") * 10000).cast("long")
    val scaled = when(col("lm_score").isNull, lit(1000000L))
      .otherwise(scaledRaw)
    val packed = scaled * lit(1L << 40) + col("doc_id")
    val key = when(col("doc_id") < 0L || col("doc_id") >= lit(1L << 40),
        raise_error(concat(
          lit("pplBuckets: id outside packed-key range [0, 2^40): "),
          col("doc_id").cast("string"))).cast("long"))
      .when(col("lm_score").isNotNull && scaledRaw >= lit(1000000L),
        raise_error(concat(
          lit("pplBuckets: lm_score <= -100 breaks the packed rank key: "),
          col("lm_score").cast("string"))).cast("long"))
      .otherwise(packed)
    // The narrow per-doc (id, score, key) frame is cached once: TotalOrder
    // reads it three times (the boundary sketch, the totals branch and
    // the data branch), and uncached each read would re-run the lmScore
    // pipeline over the corpus text. TotalOrder draws the rank-key
    // boundaries once per plan; their values only affect bucket balance,
    // never the ranks.
    val keyed = graft.operators.CacheOnce(scored.withColumn("_k", key))
    val ranked = TotalOrder.globalRowNumber(keyed, "_k", "_rank")
    val q = floor(col("n_docs") / lit(k)).cast("long")
    val rem = (col("n_docs") % lit(k)).cast("long")
    val thresh = rem * (q + lit(1L))
    val bucket = when(col("_rank") <= thresh,
        ceil(col("_rank") / (q + lit(1L)).cast("double")))
      .otherwise(rem + ceil((col("_rank") - thresh) / q.cast("double")))
    ranked.crossJoin(broadcast(nDocs)) // 1 row — scalar-subquery pattern
      .select(col("doc_id"), col("lm_score"),
        bucket.cast("long").as("bucket"))
  }

  /** Illustrative fixed subword vocabulary for the tokenizer-aware
    * accounting gate: common English subword units. A production
    * deployment swaps in a TRAINED vocab (BPE/WordPiece merges
    * materialized to this literal, exactly how the IVF centroids and
    * LSH planes are served) — the operator is vocabulary-agnostic. */
  val demoSubwordVocab: Seq[String] = Seq(
    "the", "and", "ing", "ion", "ent", "for", "tion", "data",
    "er", "ed", "an", "re", "on", "at", "en", "es", "or", "te",
    "of", "be", "in", "he", "to", "it", "ou", "ar", "is", "al",
    "le", "se", "st", "ro", "om", "us", "ur", "ra", "li", "la")

  /** Illustrative fixed BPE merge table for the true-merge-loop gate
    * (txt_bpe_apply), RANK ORDER — each entry "x y" merges adjacent
    * pieces x,y into xy, and later entries reference pieces earlier ones
    * build ("t h" → "th", then "th e" → "the", then "the re" →
    * "there"), so the gate exercises genuinely multi-level merging. A
    * production deployment swaps in trained merges exactly like
    * [[demoSubwordVocab]]. */
  val demoBpeMerges: Seq[String] = Seq(
    "t h", "i n", "a n", "e r", "o n", "r e", "e n", "a t",
    "e s", "o r", "o u", "s t", "e d", "i s", "a r", "t o",
    "l l", "o o", "th e", "in g", "an d", "e a", "i t", "o f",
    "the re", "c h", "s h", "w h", "en t", "at i")

  /** Tokenizer-aware token accounting: whitespace words segmented into
    * subword pieces by the native greedy longest-match kernel
    * ([[graft.functions.SubwordTokenize]]), with per-doc word/subword
    * counts, fertility (subwords per word — THE tokenizer-efficiency
    * metric pretraining budgets care about), and an md5 over the full
    * piece stream so a SQL oracle certifies every piece, not just the
    * counts. Pure per-row column algebra — zero shuffle at any corpus
    * size; the vocab rides as a query-constant literal. */
  def subwordStats(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "vocab must be non-empty")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val toks = tokens(col(textCol))
    val pieces = flatten(transform(toks,
      w => graft.functions.GraftFunctions.subwordTokenize(w, vocab)))
    df.select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("n_words"),
        size(pieces).cast("long").as("n_subwords"),
        md5(concat_ws(" ", pieces)).as("pieces_md5"))
      .withColumn("fertility",
        round(col("n_subwords").cast("double") / col("n_words"), 4))
      .select("doc_id", "n_words", "n_subwords", "fertility", "pieces_md5")
  }

  /** BPE merge LEARNING (Sennrich et al. 2016 training loop) — the
    * companion to [[graft.functions.BpeApply]]'s inference pass, closing
    * the tokenizer story train → apply → count: extract the scoped word
    * vocabulary with frequencies from ONE corpus scan, then for each of
    * `steps` rounds (1) count adjacent piece pairs weighted by word
    * frequency, (2) pick the most frequent pair (ties broken
    * lexicographically on (x, y) so the learned table is deterministic
    * across engines and partitionings), (3) merge ALL its occurrences in
    * every word left-to-right. Returns the learned merge table:
    * one row per round — (step, x, y, merged, pair_count).
    *
    * The per-word merge pass is a fold: "if the accumulator's last piece
    * is x and the next piece is y, replace the last piece with xy, else
    * append". This IS the reference left-to-right pass with
    * continue-past-the-merge — after a merge the accumulator ends in xy,
    * and xy can never equal x (it is strictly longer), so the merged
    * piece can never seed an immediately-following merge of the same
    * pair; a run like `a a a` under (a,a) folds to `aa a`, never `aa`+
    * re-merge. Expressed with the `aggregate` higher-order function —
    * column algebra, codegen'd, no UDF.
    *
    * Scale shape: the corpus is scanned ONCE (word explode → one
    * vocab-keyed shuffle with map-side partial counts); every training
    * round thereafter touches only the word-TYPE vocabulary — Sennrich's
    * own formulation — which is orders of magnitude smaller than the
    * corpus and independent of corpus row count. Each round is one
    * vocab-sized aggregate (pair counts, map-side combined) plus a
    * 1-row argmax collect (constant-bounded, the Lloyd-iteration
    * precedent) and one per-row fold over the vocab; the vocab frame is
    * localCheckpoint'd per round so round k's plan does not recompute
    * rounds 1..k-1.
    *
    * [[bpeVocab]] is the trainer's ONE corpus-scale stage, exposed for
    * the plan audit: scoped word explode → word-type vocab with
    * frequencies and the single-character start pieces. It must prune
    * the scan to `textCol` and plan a partial (map-side) count — at
    * 100 TB that stage IS the training cost. */
  private[graft] def bpeVocab(df: DataFrame, textCol: String,
      wordRe: String): DataFrame = {
    val words = filter(tokens(col(textCol)), w => w.rlike(s"^$wordRe$$"))
    df.select(explode(words).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("ps"))
  }

  /** See the training-loop contract above ([[bpeVocab]] then `steps`
    * vocab-only rounds); returns the learned merge table
    * (step, x, y, merged, pair_count).
    *
    * Checkpoints are LAZY: each round's vocab materializes as a side
    * effect of that round's argmax collect (one Spark job per round
    * instead of two — the trainer's wall cost at bench scale IS its job
    * count, not its data). Round k−1's blocks are released only AFTER
    * round k's collect has materialized round k's checkpoint — an
    * earlier unpersist would silently force a full lineage recompute
    * (or worse, chain back through every released round). */
  def bpeTrain(df: DataFrame, textCol: String, wordRe: String,
      steps: Int): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    val spark = df.sparkSession
    var vocab = bpeVocab(df, textCol, wordRe).localCheckpoint(false)
    var prev: Option[DataFrame] = None
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val best = vocab
        .filter(size(col("ps")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("ps")) - 1),
          i => struct(element_at(col("ps"), i).as("x"),
            element_at(col("ps"), i + 1).as("y")))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1)
        .collect() // exactly one row — constant-bounded by construction
      prev.foreach(_.unpersist()) // this round's vocab is materialized now
      prev = Some(vocab)
      if (best.isEmpty) exhausted = true
      else {
        val (x, y, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val m = x + y
        learned += ((step.toLong, x, y, m, cnt))
        // one fused LTR merge pass per word (graft_bpe_merge_once) — the
        // interpreted `aggregate` fold this replaces rebuilt the
        // accumulator array per element (O(|pieces|²) allocations per
        // word per round, paid by every word type whether or not it
        // contains the pair); the kernel pre-scans and returns the input
        // array untouched for the non-containing majority.
        // BpeMergeOnceSpec pins fold ≡ kernel.
        vocab = vocab
          .withColumn("ps",
            graft.functions.GraftFunctions.bpeMergeOnce(col("ps"), x, y))
          .localCheckpoint(false)
        step += 1
      }
    }
    prev.foreach(_.unpersist())
    vocab.unpersist()
    import spark.implicits._
    learned.toSeq.toDF("step", "x", "y", "merged", "pair_count")
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene idf
    * variant ln(1 + (N − df + 0.5)/(df + 0.5))) of the top `topK` docs
    * for a FIXED query term set — the retrieval primitive behind
    * decontamination-by-retrieval and eval-set leakage checks.
    *
    * Scale shape: because the query is a small literal set, the corpus
    * statistics (N, avgdl, one df per term) collapse into ONE 1-row
    * aggregation, broadcast back; per-doc tf is `size(filter(tokens))`
    * column algebra — so the whole scorer is two corpus passes with no
    * data shuffle at all, and the top-k is a TakeOrdered, not a sort.
    * An inverted-index join would win for ad-hoc many-term queries;
    * for the fixed-query scan this shape is strictly cheaper.
    *
    * Determinism: k1/b default to binary-exact constants (1.5, 0.75 —
    * 2.5, 0.25 and every derived literal are exact doubles), the score
    * expression tree mirrors the SQL oracle's association order, and
    * the top-k cuts on the ROUNDED score with doc_id ties — the same
    * cross-engine-stable ranking rule as [[pplBuckets]]. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.5, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val perDoc = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("t"))
      .withColumn("dl", size(col("t")).cast("double"))
    val statAggs =
      Seq(count(lit(1)).cast("double").as("n_docs"),
        avg(size(col("t"))).as("avgdl")) ++
      queryTerms.zipWithIndex.map { case (term, i) =>
        sum(when(array_contains(col("t"), term), 1L).otherwise(0L))
          .cast("double").as(s"df_$i")
      }
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val score = queryTerms.zipWithIndex.map { case (term, i) =>
      val tf = size(filter(col("t"), x => x === term)).cast("double")
      val dfT = col(s"df_$i")
      val idf = log(lit(1.0) + (col("n_docs") - dfT + lit(0.5)) / (dfT + lit(0.5)))
      idf * (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats)) // 1 row — scalar-subquery pattern
      .select(col("doc_id"), (round(score, 4) + lit(0.0)).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(topK)
  }

  /** Overlapping fixed-size token chunks — the context-window prep step
    * (RAG indexing / pretraining sequence packing both start here): chunk
    * starts at 0, stride, 2*stride, … < n_tokens, each taking up to
    * `window` tokens, so consecutive chunks overlap by window − stride
    * tokens. Pure per-row generate + slice — no shuffle, no UDF; output
    * cardinality is ceil(n_tokens / stride) rows per document, each row
    * bounded by `window` tokens, so partition sizes stay bounded at
    * corpus scale regardless of individual document length. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0, s"stride must be positive, got $stride")
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(stride))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("start_tok"),
        least(lit(window), size(col("t")) - col("col")).cast("long")
          .as("n_chunk_toks"),
        concat_ws(" ", slice(col("t"), col("col") + 1, lit(window)))
          .as("chunk_text"))
  }

  /** Per-document Shannon token entropy in bits/token — the classic
    * low-entropy-equals-boilerplate quality signal (template pages and
    * keyword-stuffed spam sit near 0; natural prose near log2 of the
    * vocabulary in use). Computed as log2(n) − Σ c·log2(c) / n over the
    * per-(doc, token) counts c — same two-level aggregation shape as
    * [[repetitionStats]]: both levels map-side partial, one shuffle key
    * (doc_id) end to end. */
  def entropyStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.byDoc(df, idCol)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt").cast("double") * log2(col("cnt").cast("double")))
          .as("clc"))
      .select(col("doc_id"), col("n_tokens"),
        // +0.0 normalizes the −0.0 a single-token document rounds to
        (round(log2(col("n_tokens").cast("double"))
          - col("clc") / col("n_tokens").cast("double"), 4) + lit(0.0))
          .as("token_entropy"))

  /** Per-(doc, term) TF-IDF over raw token occurrences: tf = term count in
    * the doc, idf = ln(N / df) with df = number of docs containing the
    * term (no smoothing — every scored term occurs somewhere, so df >= 1).
    * Corpus-wide terms score exactly 0. Emits the full matrix; rank/top-k
    * per doc downstream with a window if needed. One shuffle for tf, one
    * for df, a hash join on the term — linear end to end. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = Dedup.byDoc(df, idCol)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    tf.join(docFreq, Seq("term"))
      .crossJoin(nDocs) // 1 row — scalar-subquery pattern
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4)
          .as("tfidf"))
  }
}
