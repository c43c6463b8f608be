package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact, word/shingle
  * Jaccard, MinHash+LSH banding, SimHash. Designed for the 100 TB shape:
  *
  *  - exact dedup is one hash-shuffle on the content key;
  *  - pairwise Jaccard is quadratic and exists as the small-scope oracle /
  *    verifier — the scale path is MinHash+LSH: O(n) signatures, then a
  *    band-bucket equi-join so only colliding docs are compared;
  *  - SimHash reduces each doc to 64 bits; near-dup search becomes a
  *    chunk-key equi-join (pigeonhole on 16-bit chunks) instead of n².
  *
  * Everything is deterministic (seeded xxhash64) and pure column algebra —
  * no UDFs, so whole-stage codegen applies throughout.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content with the kept id and
    * the duplicate count. `sha2`/raw-text keying are equivalent; grouping
    * on the raw column lets Spark hash-partition directly. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Pre-explode doc redistribution shared by [[tokenSet]] and
    * [[shingleSet]]: one exchange of the RAW doc rows, hash-keyed on the
    * id, before tokenization fans each doc out ~tokens×.
    *
    * Why an explicit exchange at all: text sketching is CPU-bound
    * relative to its input bytes (per token: a digest + k affine mins),
    * so Spark's byte-based split sizing under-parallelizes a text corpus
    * badly — a single-row-group documents file scans as ONE task that
    * then carries the whole explode+digest pipeline (measured 11.7 s on
    * dedup_minhash_lsh at 5× sf0.1). Why HERE and keyed on doc_id:
    * pre-explode rows are ~2 orders of magnitude smaller than the token
    * stream (the old global `.distinct()` shuffled post-explode), and
    * hash-partitioning by doc_id means every downstream per-doc
    * aggregation (minhash signatures, collect_set verification arrays)
    * finds its clustering ALREADY satisfied — the sketch pipelines drop
    * from two corpus-sized exchanges to this one doc-sized one. */
  private[operators] def byDoc(df: DataFrame, idCol: String): DataFrame =
    df.repartition(col(idCol))

  /** Distinct (id, token) pairs — the set representation used by Jaccard
    * and MinHash. Dedup is per-row (`array_distinct` before the explode),
    * not a global `.distinct()`: within-document uniqueness needs no
    * corpus-wide shuffle of every token occurrence. */
  def tokenSet(df: DataFrame, idCol: String, textCol: String): DataFrame =
    byDoc(df, idCol).select(col(idCol).as("doc_id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("w"))

  /** Distinct (id, n-word-shingle) pairs for n-gram Jaccard (n >= 2).
    *
    * The token array is materialized ONCE per row behind a projection
    * boundary before the shingle lambda runs over it — referencing
    * `split(text)` directly inside the lambda re-tokenizes the document
    * per shingle (O(tokens²) per doc), and filtering on the re-tokenized
    * shingle string repeats it again (measured ~2× on the shingle-heavy
    * queries). The short-doc filter checks the slice LENGTH, so docs with
    * fewer than n tokens drop without ever re-splitting. */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    byDoc(df, idCol)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      // docs shorter than n tokens have no n-shingle; filtering here keeps
      // every generated slice exactly n long (no per-slice length check)
      .filter(size(col("toks")) >= n)
      // per-doc dedup happens INSIDE the row via array_distinct before the
      // explode — the output is the same distinct (doc_id, w) set, but
      // without the global .distinct(), which shuffled every shingle
      // occurrence of the corpus just to dedup within single documents
      .select(col("doc_id"), explode(distinctShingles(col("toks"), n)).as("w"))

  /** Distinct n-shingle array of one doc's token-array column — the
    * per-row set [[shingleSet]] explodes and [[portableSketch]] keeps
    * whole. */
  private def distinctShingles(toks: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** All-pairs Jaccard over a token/shingle set frame (columns doc_id, w):
    * |A∩B| via self-equi-join on the token, sizes via a broadcastable
    * per-doc count. Quadratic in colliding docs — scope the input (this is
    * the verifier; LSH is the scale path). */
  def jaccardPairs(sets: DataFrame, threshold: Double): DataFrame = {
    // NOT cached: this is the SCOPED verifier — measured at sf0.1, a
    // columnar cache of the string-heavy token frame costs more than the
    // two extra scans it saves (0.43s → 1.04s); the scale-path pipelines
    // (minhash/prefix), whose upstream is expensive, do cache
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sets.as("a")
      .join(sets.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("c"))
    // no broadcast hint: the per-doc size table is corpus-sized at scale;
    // AQE broadcasts it automatically when it actually fits
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id1", "n" -> "n1")), Seq("id1"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id2", "n" -> "n2")), Seq("id2"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("n1") + col("n2") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** All-pairs one-sided containment |A∩B| / |A| over a token/shingle set
    * frame — catches SUB-document duplication (boilerplate wrappers, full
    * quotation) that symmetric Jaccard dilutes: a 50-word doc embedded in
    * a 5000-word doc has Jaccard ≈ 0.01 but containment 1.0 from the small
    * side. Emits one row per ordered (id, other) direction with id's
    * coverage. Quadratic verifier like [[jaccardPairs]] — scope the input.
    * NOTE the scale path is [[containmentPairsPrefix]], NOT MinHash-LSH
    * banding: band-collision probability is a function of symmetric
    * Jaccard, so the high-containment/low-Jaccard pairs this operator
    * exists for would almost never collide in Jaccard-tuned bands —
    * containment needs an asymmetric candidate scheme (prefix filtering on
    * the contained side). */
  def containmentPairs(sets: DataFrame, threshold: Double): DataFrame = {
    // not cached — scoped verifier; see jaccardPairs
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sets.as("a")
      .join(sets.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id"), col("b.doc_id").as("other"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id", "n" -> "n_id")), Seq("id"))
      .withColumn("containment", col("c").cast("double") / col("n_id").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id"), col("other"), round(col("containment"), 4).as("containment"))
  }

  /** One-sided containment at scale: prefix-filter candidate generation
    * (AllPairs/PPJoin family) + exact verification. Output is IDENTICAL to
    * [[containmentPairs]] — prefix filtering is exact (no probabilistic
    * miss), so the all-pairs SQL remains a valid oracle — but candidate
    * generation is an equi-join on rare tokens instead of an all-pairs
    * token join.
    *
    * Completeness: containment(A⊆B) = |A∩B|/|A| >= t needs an overlap of
    * at least ceil(t·|A|) tokens, so at most |A| − ceil(t·|A|) tokens of A
    * can miss B. Order A's tokens canonically (ascending document
    * frequency, then token); if none of A's first |A| − ceil(t·|A|) + 1
    * tokens (its PREFIX) were in B, too many tokens would be missing.
    * Joining A-prefixes against EVERY token of the other side therefore
    * surfaces every qualifying ordered pair. The prefix carries each doc's
    * RAREST tokens, which is what makes the candidate equi-join selective;
    * a 1e-9 slack on the ceil keeps float rounding from shortening a
    * prefix below the sound length (extra candidates are harmless — the
    * verifier filters).
    *
    * Scale shape: document frequencies and per-doc sizes are linear aggs;
    * ranking is a window PARTITIONED by doc; candidates come from one
    * token equi-join (prefix side ≈ (1−t)·|tokens| rows); verification
    * prunes with the ASYMMETRIC length bound |B| >= t·|A| (|A∩B| <= |B|,
    * so smaller `other` sides can't reach the threshold — the symmetric
    * Jaccard size-ratio bound does not apply to containment), then counts
    * the intersection with the codegen kernel per surviving pair. */
  def containmentPairsPrefix(sets: DataFrame, threshold: Double): DataFrame =
    // compat form over an exploded set frame: aggregate it into the
    // per-doc array shape the pipeline actually wants (one exchange),
    // then share everything with the array-form entry point
    containmentPairsPrefixArr(
      sets.groupBy("doc_id")
        .agg(sort_array(collect_set(col("w"))).as("toks")),
      threshold)

  /** [[containmentPairsPrefix]] over the per-doc SORTED distinct-token
    * array frame `(doc_id, toks)` — the preferred entry point: per-doc
    * sizes come from `size(toks)` (no aggregation), the verification
    * arrays ARE the input (no re-aggregation), and an array built
    * per-row upstream (`sort_array(array_distinct(tokens))`) makes the
    * whole candidate generation start from ZERO corpus exchanges — the
    * same restructuring that took the portable-MinHash sketch below its
    * oracle. Only corpus-level document frequency (the rarity order the
    * prefix needs) still aggregates. */
  def containmentPairsPrefixArr(tokArr0: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cache the array frame: it feeds THREE branches (the exploded
    // df/prefix/candidate chain and the two verification-array joins),
    // and without materialization each branch re-runs the whole upstream
    // scan+tokenize+distinct — measured as the #2 bench cost in round 5.
    // Same cache lifecycle as minhashNearDups: bounded by the harness's
    // per-query clearCache().
    val tokArr = CacheOnce(tokArr0)
    val full = tokArr.select(col("doc_id"), size(col("toks")).as("n"),
      explode(col("toks")).as("w"))
    val docFreq = full.groupBy("w").agg(count(lit(1)).as("tok_df"))
    val prefixes = full.join(docFreq, Seq("w"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tok_df"), col("w"))))
      .filter(col("rnk") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + lit(1))
    val cands = prefixes.as("a")
      .join(full.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id"), col("b.doc_id").as("other"),
        col("a.n").as("n_id"), col("b.n").as("n_other"))
      .distinct()
    cands
      .filter(col("n_other").cast("double")
        >= lit(threshold) * col("n_id").cast("double"))
      .drop("n_id", "n_other")
      .join(tokArr.select(col("doc_id").as("id"), col("toks").as("toks_a")), Seq("id"))
      .join(tokArr.select(col("doc_id").as("other"), col("toks").as("toks_b")), Seq("other"))
      // positional filter: containment >= t needs c >= t·|A|
      .withColumn("c",
        graft.functions.GraftFunctions.intersectCountSortedBounded(
          col("toks_a"), col("toks_b"),
          floor(lit(threshold) * size(col("toks_a"))).cast("int")))
      .withColumn("containment", col("c").cast("double") / size(col("toks_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id"), col("other"), round(col("containment"), 4).as("containment"))
  }

  /** MinHash signatures: numHashes permutations simulated as seeded
    * xxhash64(token, seed=i); sig_i = min over the doc's tokens. One
    * explode + one groupBy — O(tokens), map-side combined. */
  def minhashSignatures(sets: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(col("w"), lit(i))).as(s"sig_$i")) :+
      count(lit(1)).as("n_toks")
    sets.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Same signatures as one native sketch aggregate
    * ([[graft.functions.MinHashAgg]]): a single long[] buffer updated in
    * one pass instead of numHashes aggregation slots. Returns
    * (doc_id, sig: array<long>); values are identical to
    * [[minhashSignatures]] (spec-asserted). */
  def minhashSignaturesAgg(sets: DataFrame, numHashes: Int): DataFrame =
    sets.groupBy("doc_id")
      .agg(graft.functions.GraftFunctions.minhash(col("w"), numHashes).as("sig"),
        count(lit(1)).as("n_toks"))

  /** LSH banding over an array<long> signature column: one (band_idx,
    * band_hash) row per band, band_hash = xxhash64 of the band's slice
    * and its index. The signature frame MUST also carry an `n_toks`
    * set-size column (as produced by [[minhashSignaturesAgg]]) — it rides
    * along so candidate pairs emerge with both set sizes attached and the
    * length-filter prune can run before the wide token-array joins; a
    * caller-built frame without it fails to resolve.
    *
    * `carryAll = true` additionally keeps the doc's FULL band-hash array
    * (`bhs`, band order) on every exploded row — the extra width
    * (bands−1 redundant hashes per row) buys
    * [[lshCandidatesFirstCollision]] its shuffle-free pair dedup. The
    * default stays narrow: it is the schema [[BandIndex]] persists, and
    * the cross-corpus paths keep their `distinct`. */
  def lshBandsFromSig(signatures: DataFrame, numHashes: Int, bands: Int,
      carryAll: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    val hashCols = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1))
      xxhash64(slice :+ lit(b): _*)
    }
    val exploded = signatures
      .select(col("doc_id"), col("n_toks"), array(hashCols: _*).as("bhs"))
      .select(col("doc_id"), col("n_toks"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band_idx", "band_hash")))
    if (carryAll) exploded else exploded.drop("bhs")
  }

  /** Candidate pairs from LSH banding (distinct on the pair), with both
    * set sizes attached (n is functionally dependent on the id, so the
    * distinct's cardinality is unchanged). `threshold > 0` applies the
    * PPJoin length prune BEFORE the distinct: a pair colliding in k bands
    * enters the distinct's shuffle k times, so dropping size-mismatched
    * pairs at generation shrinks that shuffle by the prune's selectivity
    * (36% on the bench corpus — measured 11.7 s → 8.3 s for the
    * candidate stage at 10× sf). Filter∘distinct ≡ distinct∘filter on a
    * deterministic predicate, so the pair set is unchanged and
    * [[verifyCandidates]]'s own prune (kept for direct callers) passes
    * everything through. */
  def lshCandidates(bandsDf: DataFrame, threshold: Double = 0.0): DataFrame =
    bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n_toks").as("n1"), col("b.n_toks").as("n2"))
      .filter(least(col("n1"), col("n2")).cast("double")
        >= lit(threshold) * greatest(col("n1"), col("n2")).cast("double"))
      .distinct()

  /** Candidate pairs via FIRST-COLLISION emission — the same pair set as
    * [[lshCandidates]] with the `distinct` exchange deleted. A true
    * near-dup pair collides in ~b·s^r of b bands (≈2 of 16 on the bench
    * corpus), so the classic band join emits every pair ~2× and then
    * pays a full shuffle+dedup over the near-quadratic candidate stream
    * — the one super-output stage of the whole pipeline (stage-profiled,
    * BENCH_NOTES r8). Instead, each joined row checks the pair's SHARED
    * band-hash prefix (both docs carry their full `bhs` array, equal
    * length by construction): emit only when NO band before this one
    * collided, i.e. only from the pair's first colliding band. Each
    * colliding pair then appears exactly once, straight out of the join
    * stage — provably the distinct of the multiset, with zero extra
    * exchange. The prefix scan is the fused
    * [[graft.functions.PrefixCollision]] kernel: one codegen'd loop over
    * ≤b hashes per joined row, zero allocation, evaluated before any
    * pair leaves the stage (the equivalent zip_with/slice/exists chain
    * is CodegenFallback and was measured 8× slower end-to-end — see the
    * kernel's scaladoc). Requires the `bhs` column ([[bandedExplode]]
    * `carryAll = true`); the width cost is per-band-row, bounded by b
    * hashes, and never persisted. */
  def lshCandidatesFirstCollision(bandsDf: DataFrame,
      threshold: Double = 0.0): DataFrame = {
    val noEarlierCollision = !graft.functions.GraftFunctions.prefixCollision(
      col("a.bhs"), col("b.bhs"), col("a.band_idx"))
    bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") < col("b.doc_id")
          && noEarlierCollision)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n_toks").as("n1"), col("b.n_toks").as("n2"))
      // PPJoin length prune at generation (see lshCandidates) — the
      // verification tail re-applies it, so output is unchanged
      .filter(least(col("n1"), col("n2")).cast("double")
        >= lit(threshold) * greatest(col("n1"), col("n2")).cast("double"))
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → bands → candidate
    * pairs → exact Jaccard verification of candidates only.
    *
    * Verification attaches each doc's sorted distinct-token ARRAY to the
    * pair (shuffled hash join on the doc id — the per-doc array table IS
    * the corpus at pipeline scale, so it must never be force-broadcast;
    * AQE promotes the join to broadcast when the table genuinely fits)
    * and counts the intersection with the fused codegen kernel. On a
    * high-self-similarity corpus the candidate set is near-quadratic, so
    * an explode-style token join would shuffle |cands|·|tokens| rows;
    * the array form keeps verification shuffle-free per pair. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      shingleN: Int = 1): DataFrame = {
    // shingleN = 1: word-set MinHash; >= 2: the shingle→minhash→band→
    // bucket-join pipeline over n-word shingles (stricter near-dup notion).
    // Sketching is the fused per-document kernel (xxSketch): the former
    // composed form exploded a corpus-wide (doc, token) stream through a
    // doc-keyed repartition, a 64-lane min hash-aggregate, and a
    // collect_set RE-aggregation for the verification arrays — all three
    // exchanges replaced by one kernel call per row over the same cached
    // per-doc array frame the verification tail reads (the restructure
    // that took the portable twin below its oracle in r13; byte-parity
    // with the composed plan pinned in MinhashBandsXXSpec).
    val (bandsDf, tokArr) =
      xxSketch(df, idCol, textCol, numHashes, bands, shingleN,
        carryAll = true)
    verifyCandidates(lshCandidatesFirstCollision(bandsDf, threshold),
      tokArr, threshold)
  }

  /** Exact-Jaccard verification of candidate pairs — the shared tail of
    * every minhash pipeline (production and oracle-portable MUST stay
    * byte-identical here, or the portable gate stops mirroring the
    * production path). `tokArr` is the per-doc SORTED distinct-token
    * array frame `(doc_id, toks)` — the portable sketch serves it
    * directly; the xxhash64 path aggregates it from its exploded set
    * frame. Attaches each doc's array with plain joins (no broadcast
    * hint — the per-doc array table is corpus-sized at scale; AQE
    * broadcasts it only when it fits) and counts the intersection with
    * the fused codegen kernel ([[graft.functions.IntersectCount]];
    * `size(array_intersect(...))` would allocate an intermediate array
    * per candidate pair). */
  private def verifyCandidates(cands: DataFrame, tokArr: DataFrame,
      threshold: Double): DataFrame = {
    cands
      // Length filter (PPJoin/AllPairs-style prune): J(A,B) >= t implies
      // min(|A|,|B|) / max(|A|,|B|) >= t, so size-mismatched candidates
      // can be dropped from the narrow (id, id, n, n) frame BEFORE the
      // two wide token-array joins ship arrays for them. Provably
      // output-preserving — the oracle needs no length clause.
      .filter(least(col("n1"), col("n2")).cast("double")
        >= lit(threshold) * greatest(col("n1"), col("n2")).cast("double"))
      .drop("n1", "n2")
      .join(tokArr.select(col("doc_id").as("id1"), col("toks").as("toks1")), Seq("id1"))
      .join(tokArr.select(col("doc_id").as("id2"), col("toks").as("toks2")), Seq("id2"))
      // positional filter: J >= t needs c >= t(|a|+|b|)/(1+t); the walk
      // breaks once unreachable (most candidates fail — that's the point).
      // floor keeps the bound conservative; output provably unchanged.
      .withColumn("c",
        graft.functions.GraftFunctions.intersectCountSortedBounded(
          col("toks1"), col("toks2"),
          floor(lit(threshold / (1.0 + threshold))
            * (size(col("toks1")) + size(col("toks2")))).cast("int")))
      .withColumn("jaccard", col("c").cast("double")
        / (size(col("toks1")) + size(col("toks2")) - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Engine-portable MinHash hash family: h_i(w) = first 15 hex chars of
    * md5("i|w") as a 60-bit integer. Any engine with md5 reproduces it
    * (the DuckDB oracle does), unlike xxhash64. Kept as the simple
    * one-seed-per-permutation form; [[minhashNearDupsPortable]] uses the
    * cheaper one-digest affine family below (one md5 per token instead of
    * numHashes). */
  def md5TokenHash(w: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString), lit("|"), w)), 1, 15), 16, 10)
      .cast("long")

  /** Engine-portable MinHash family v2 — ONE digest per token + k
    * universal affine transforms (the classic Broder/Carter–Wegman
    * construction every production MinHash uses): base b(w) =
    * 60-bit-md5(w) mod p, h_i(w) = (a_i·b + c_i) mod p with p = 2^31 − 1.
    * Every product stays under 2^62, so the arithmetic is exact in 64-bit
    * integers in ANY engine — the DuckDB oracle replays it verbatim —
    * while the sketch computes numHashes× fewer digests (the digest was
    * the dominant sketch cost: 64 md5s per token → 1). The constants are
    * fixed functions of i so the Spark plan and the SQL twin cannot
    * drift. */
  val minhashP = 2147483647L // 2^31 − 1 (Mersenne)
  def affineA(i: Int): Long = (2L * i + 1L) * 2654435761L % minhashP // odd × Knuth
  def affineC(i: Int): Long = (i.toLong * 40503L + 17L) % minhashP

  /** MinHash+LSH near-dup pipeline over the md5 hash family, with the
    * band hash likewise portable (md5 of the comma-joined band slice).
    * Same dataflow as [[minhashNearDups]]: signatures → bands → candidate
    * equi-join → exact Jaccard verification of candidates only. A DuckDB
    * oracle can replay every stage, so a hash-match proves the banding
    * produced exactly the right candidate set AND the verification kept
    * exactly the right pairs. */
  def minhashNearDupsPortable(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      shingleN: Int = 1): DataFrame = {
    val (bandsDf, tokArr) =
      portableSketch(df, idCol, textCol, numHashes, bands, shingleN,
        carryAll = true)
    verifyCandidates(lshCandidatesFirstCollision(bandsDf, threshold),
      tokArr, threshold)
  }

  /** The portable-family sketch shared by the self-dedup and incremental
    * pipelines: per-row sorted distinct-token (or shingle) array → the
    * fused [[graft.functions.MinhashBands]] kernel (base md5 + all
    * affine lanes + band md5s in one pass per document) → posexploded
    * band rows. Returns (band frame, per-doc token-array frame
    * `(doc_id, toks)`); both are materialized once ([[CacheOnce]],
    * harness-scoped lifecycle) because each feeds two consumers
    * downstream — and `df` itself may be an expensive upstream composite.
    *
    * Scale shape: ZERO corpus exchanges before the band join. The former
    * shape exploded a corpus-wide (doc, token) stream, paid a per-token
    * md5→hex→conv round-trip plus a 64-buffer min hash-aggregate, and
    * then RE-aggregated the same stream into verification arrays; now
    * the within-document distinct set is per-row column algebra, the
    * signature+banding is one kernel call per document (byte-parity with
    * the SQL replay — spec-pinned in MinhashBandsSpec), and the SAME
    * cached array frame feeds the exact-Jaccard verification tail. */
  private[operators] def portableSketch(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int,
      shingleN: Int = 1, carryAll: Boolean = false): (DataFrame, DataFrame) =
    fusedSketch(df, idCol, textCol, shingleN, carryAll)(
      graft.functions.GraftFunctions.minhashBands(_, numHashes, bands))

  /** [[portableSketch]]'s production twin over the xxhash64 family —
    * identical dataflow, the fused [[graft.functions.MinhashBandsXX]]
    * kernel instead of the md5-affine one; band hashes are longs (the
    * schema [[lshBandsFromSig]] emits, so every banding consumer —
    * first-collision prefix scan included — is family-agnostic).
    *
    * Unlike the portable twin, the raw doc rows are redistributed BEFORE
    * the kernel ([[byDoc]] — the same pre-explode exchange the composed
    * tokenSet path carried, and for the same measured reason): this is
    * the FULL-CORPUS self-dedup entry ([[minhashNearDups]] runs it over
    * every document), and a single-row-group documents file scans as ONE
    * task that would otherwise carry the whole tokenize→kernel pipeline,
    * the two cached frames, and their downstream shuffle map sides on
    * one core (measured 444 s vs 13 s on dedup_minhash_lsh at 10×
    * sf0.1 when this exchange was first dropped). The portable twin
    * keeps its zero-exchange shape: its callers are scoped gates and
    * O(batch) index appends, where the exchange costs more than the
    * parallelism buys. */
  private[operators] def xxSketch(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int,
      shingleN: Int = 1, carryAll: Boolean = false): (DataFrame, DataFrame) =
    fusedSketch(byDoc(df, idCol), idCol, textCol, shingleN, carryAll)(
      graft.functions.GraftFunctions.minhashBandsXX(_, numHashes, bands))

  /** The fused-sketch dataflow both hash families share: per-row sorted
    * distinct-token (or shingle) array → one band-kernel call per
    * document → posexploded band rows. Returns (band frame, per-doc
    * token-array frame `(doc_id, toks)`); both are materialized once
    * ([[CacheOnce]], harness-scoped lifecycle) because each feeds two
    * consumers downstream — and `df` itself may be an expensive upstream
    * composite.
    *
    * Scale shape: ZERO corpus exchanges before the band join. The former
    * shape exploded a corpus-wide (doc, token) stream, paid a per-token
    * digest plus a 64-buffer min hash-aggregate, and then RE-aggregated
    * the same stream into verification arrays; now the within-document
    * distinct set is per-row column algebra, the signature+banding is
    * one kernel call per document, and the SAME cached array frame feeds
    * the exact-Jaccard verification tail. */
  private def fusedSketch(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, carryAll: Boolean)(
      bandsOf: Column => Column): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // sort_array at build: one per-row sort buys the allocation-free
    // merge-walk verification kernel (IntersectCountSorted's contract)
    val perDoc =
      if (shingleN > 1)
        df.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("t"))
          .filter(size(col("t")) >= shingleN)
          .select(col("doc_id"),
            sort_array(distinctShingles(col("t"), shingleN)).as("toks"))
      else
        df.select(col(idCol).as("doc_id"),
          sort_array(array_distinct(TextOps.tokens(col(textCol)))).as("toks"))
          // null-text docs emit NO row (the absent-group semantics the
          // explode+collect_set form had) — without this the NULL-toks
          // row rides into BandIndex.append's persisted `_toks` table as
          // a silent index-format drift (r13 advice); the shingle branch
          // above already drops them via its size() >= n filter
          .filter(col("toks").isNotNull)
    val tokArr = CacheOnce(perDoc)
    val exploded = tokArr
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        bandsOf(col("toks")).as("bhs"))
      .select(col("doc_id"), col("n_toks"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band_idx", "band_hash")))
    val bandsDf = CacheOnce(if (carryAll) exploded else exploded.drop("bhs"))
    (bandsDf, tokArr)
  }

  /** Incremental near-dup matches: a NEW batch against an EXISTING
    * reference corpus — the nightly-ingest case, where re-dedup-ing the
    * whole corpus per batch (minhashNearDups over new ∪ corpus) would
    * redo O(|corpus|²-shaped) work every night. Both sides are sketched
    * with the portable family, and candidates come from the band
    * equi-join of NEW bands against CORPUS bands ONLY — no corpus×corpus
    * pairs are ever generated, so per-batch cost is O(|new| + collisions)
    * regardless of corpus size. (At deployment scale the corpus band
    * frame is the precomputed dedup index — amortized across batches;
    * bucketed/partitioned storage of it is [[IvfIndex]]-shaped.) Returns
    * (id_new, id_ref, jaccard) for every verified match; doc ids must be
    * unique ACROSS the two frames (a shared id means "the same document").
    * Intra-batch duplicates are [[minhashNearDups]]' job on `newDocs`
    * alone — compose both for the full nightly pass. */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val (newBands, newToks) = portableSketch(newDocs, idCol, textCol, numHashes, bands)
    val (refBands, refToks) = portableSketch(corpus, idCol, textCol, numHashes, bands)
    val cands = newBands.as("a")
      .join(refBands.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_ref"),
        col("a.n_toks").as("n1"), col("b.n_toks").as("n2"))
      .distinct()
    val newArr = newToks.select(col("doc_id").as("id_new"),
      col("toks").as("toks1"))
    val refArr = refToks.select(col("doc_id").as("id_ref"),
      col("toks").as("toks2"))
    crossVerify(cands, newArr, refArr, threshold)
  }

  /** Exact-Jaccard verification of CROSS-side candidate pairs — the tail
    * shared by [[incrementalNearDups]] and [[BandIndex.matches]].
    * `cands`: (id_new, id_ref, n1, n2); `newArr`: (id_new, toks1);
    * `refArr`: (id_ref, toks2). */
  private[operators] def crossVerify(cands: DataFrame, newArr: DataFrame,
      refArr: DataFrame, threshold: Double): DataFrame =
    cands
      // PPJoin length prune before the wide array joins (see
      // verifyCandidates) — provably output-preserving
      .filter(least(col("n1"), col("n2")).cast("double")
        >= lit(threshold) * greatest(col("n1"), col("n2")).cast("double"))
      .drop("n1", "n2")
      .join(newArr, Seq("id_new"))
      .join(refArr, Seq("id_ref"))
      // positional filter — same bound derivation as verifyCandidates
      .withColumn("c",
        graft.functions.GraftFunctions.intersectCountSortedBounded(
          col("toks1"), col("toks2"),
          floor(lit(threshold / (1.0 + threshold))
            * (size(col("toks1")) + size(col("toks2")))).cast("int")))
      .withColumn("jaccard", col("c").cast("double")
        / (size(col("toks1")) + size(col("toks2")) - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_ref"), round(col("jaccard"), 4).as("jaccard"))

  /** The user-facing incremental dedup: new docs that survive
    * [[incrementalNearDups]] against the corpus (left-anti on matched
    * new ids). */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    newDocs.join(
      incrementalNearDups(newDocs, corpus, idCol, textCol,
          numHashes, bands, threshold)
        .select(col("id_new").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Keep-list resolution: given near-dup pairs (id1 < id2), drop every
    * doc that pairs with a smaller-id doc — one-iteration star clustering
    * with the minimum id as representative. Returns the kept subset of
    * `df`. (A full transitive closure is iterative connected components;
    * one greedy round is the standard first pass at pipeline scale.) */
  def keepList(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id2").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Segment-level exact dedup (the C4/RefinedWeb "line dedup" pass,
    * re-expressed over fixed-size word chunks because this corpus has no
    * sentence delimiters): split each doc into consecutive
    * `chunkWords`-word segments, keep only the globally-FIRST occurrence
    * of each distinct segment text (ordered by doc id, then position),
    * and reassemble each document from its surviving segments.
    *
    * Scale shape: one hash-shuffle on the segment text (the
    * first-occurrence window) and one on doc id (reassembly) — both
    * linear in corpus size; no pairwise comparison anywhere. The window
    * partitions by segment text, so a segment duplicated millions of
    * times lands in one partition — acceptable because the per-segment
    * state is a single running row_number (no buffering). For a corpus
    * where one boilerplate segment dominates (a hot key that makes even
    * the stateless window partition a wall-clock straggler),
    * `hotKeyAggregate = true` swaps the window for a
    * min(struct(doc_id, seg_idx)) hash aggregate: partial aggregation
    * combines the hot key map-side, so the straggler partition receives
    * one pre-reduced row per upstream task instead of every duplicate —
    * same single shuffle, same result (parity spec-pinned). The window
    * stays the default: without skew it avoids the aggregate's
    * struct-building and is what the oracle replays. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int, hotKeyAggregate: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nSegs = ceil(size(col("toks")).cast("double") / chunkWords).cast("int")
    val segs = byDoc(df, idCol)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), nSegs - 1),
        i => concat_ws(" ",
          slice(col("toks"), (i * chunkWords + 1).cast("int"), lit(chunkWords))))))
      .select(col("doc_id"), col("pos").as("seg_idx"), col("col").as("seg"))
    val firsts =
      if (hotKeyAggregate)
        segs.groupBy("seg")
          .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
          .select(col("f.doc_id").as("doc_id"),
            col("f.seg_idx").as("seg_idx"), col("seg"))
      else segs
        .withColumn("rn", row_number().over(
          Window.partitionBy("seg").orderBy("doc_id", "seg_idx")))
        .filter(col("rn") === 1)
    df.select(col(idCol).as("doc_id"))
      .join(firsts, Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(
        count(col("seg")).as("n_kept"),
        coalesce(
          array_join(transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s.getField("seg")), " "),
          lit("")).as("text_dedup"))
  }

  /** Positional n-token windows: (doc_id, pos [1-based], span). Unlike
    * [[shingleSet]] this keeps positions and does NOT dedup within the
    * document — it is the raw material for exact substring-level
    * duplication analysis, where WHERE a span sits matters as much as
    * whether it exists. Docs shorter than n tokens yield no windows. */
  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    byDoc(df, idCol)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - lit(n - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(n))))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("span"))

  /** Cross-document duplicated n-token spans — the exact substring-level
    * dedup signal (suffix-array dedup à la "Deduplicating Training Data
    * Makes Language Models Better", approximated at fixed window size n,
    * which catches every duplicated run of >= n tokens): each span text
    * occurring in at least two DISTINCT documents, with document and
    * occurrence counts. Set-level Jaccard misses these entirely when the
    * surrounding documents differ.
    *
    * Scale shape: aggregated, never pairwise — one shuffle keyed on the
    * span with map-side partial counts; a boilerplate span duplicated
    * millions of times arrives at its reducer pre-combined per upstream
    * task. Output is bounded by the distinct duplicated-span vocabulary,
    * not by doc pairs. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    tokenWindows(df, idCol, textCol, n)
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)

  /** Arbitrary-length exact-substring dedup — the full suffix-array
    * operator semantics (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better") at token granularity, built from
    * [[tokenWindows]] seeds by diagonal run growth: every MAXIMAL token
    * span of length >= n shared verbatim between two distinct documents,
    * as (id1 < id2, pos1, pos2, len_tokens). Where [[dupSpans]] reports
    * the fixed-length n-window vocabulary, this reports the true
    * duplicated substrings at their full length: two docs sharing a
    * 90-token boilerplate block yield ONE row with len_tokens = 90, not
    * 83 anonymous 8-grams.
    *
    * Construction: a shared substring of length L >= n between doc a at
    * pa and doc b at pb is exactly a run of L−n+1 consecutive matching
    * n-windows along the diagonal pb−pa, so (1) self-join the positional
    * windows on span text (cross-doc pairs only), (2) group occurrence
    * pairs by (id1, id2, diagonal = pos2−pos1), (3) coalesce consecutive
    * pos1 into islands (pos1 − row_number is constant within a run).
    * MAXIMALITY is structural: if the match extended one token left or
    * right, the adjacent window would also match on the same diagonal
    * and the island would have included it.
    *
    * Scale shape: one span-keyed shuffle (the self-join — both sides
    * read ONE materialization of the window frame), one shuffle on
    * (id1, id2, diag) for the island window, whose grouping the run
    * aggregation reuses (no further exchange). Like LSH candidate
    * generation the join is output-bound: a span occurring in k
    * documents contributes O(k²) occurrence pairs, so corpora with
    * mega-duplicated boilerplate should either pre-pass
    * [[segmentDedup]] or set `maxOccurrences` — spans above the cap are
    * dropped from seeding (Lee et al.'s own frequency cut), bounding any
    * single span's contribution to maxOccurrences² pairs. */
  def dupSpanRuns(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxOccurrences: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = CacheOnce(tokenWindows(df, idCol, textCol, n))
    val seeds = maxOccurrences match {
      case Some(m) => wins.join(
        wins.groupBy("span").agg(count(lit(1)).as("_occ"))
          .filter(col("_occ") <= m).select("span"),
        Seq("span"))
      case None => wins
    }
    val pairs = seeds.as("a")
      .join(seeds.as("b"),
        col("a.span") === col("b.span")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.pos").as("pos1"), col("b.pos").as("pos2"))
    val byDiag = Window.partitionBy(col("id1"), col("id2"), col("diag"))
      .orderBy(col("pos1"))
    pairs
      .withColumn("diag", col("pos2") - col("pos1"))
      .withColumn("grp", col("pos1") - row_number().over(byDiag))
      .groupBy(col("id1"), col("id2"), col("diag"), col("grp"))
      .agg(min(col("pos1")).as("pos1"),
        (count(lit(1)) + lit(n - 1)).cast("long").as("len_tokens"))
      .select(col("id1"), col("id2"), col("pos1"),
        (col("pos1") + col("diag")).as("pos2"), col("len_tokens"))
  }

  /** Per-document duplicated-span coverage: the fraction of each doc's
    * token positions covered by at least one n-token span shared with
    * ANOTHER document — the per-doc filter metric derived from
    * [[dupSpans]] (drop or trim docs whose training value is mostly
    * memorized boilerplate). Overlapping spans are union-merged with the
    * classic running-max interval sweep so covered positions count once.
    *
    * Scale shape: the window frame feeds both the duplicated-span set and
    * the interval scan — materialized once (CacheOnce, harness-scoped
    * lifecycle like the LSH band cache). The interval-merge window
    * partitions BY DOC (thousands of rows each, never a global window);
    * everything else is equi-joins and linear aggregates. */
  /** The spans shared by >= 2 distinct docs, as min(doc_id) <> max(doc_id)
    * over ONE span-keyed exchange with map-side partials. The
    * countDistinct form both consumers used before planned the
    * two-exchange distinct aggregate — a (span, doc_id) exchange feeding
    * a second span exchange — and at corpus scale the span frame is the
    * job's largest intermediate, so the cut exchange is the win. The
    * predicate is identical because doc_id is non-null (equal min/max ⟺
    * exactly one distinct doc). [[dupSpans]] itself keeps countDistinct:
    * its OUTPUT is the n_docs count, not the predicate. */
  private def dupSpanSet(wins: DataFrame): DataFrame =
    wins.groupBy("span")
      .agg(min(col("doc_id")).as("_d0"), max(col("doc_id")).as("_d1"))
      .filter(col("_d0") =!= col("_d1"))
      .select("span")

  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = CacheOnce(tokenWindows(df, idCol, textCol, n))
    val dup = dupSpanSet(wins)
    // (doc, start, end) per duplicated-span occurrence; pos is unique per
    // doc (one window per position), so the merge sweep's ordering is
    // deterministic without a tiebreaker
    val ivals = wins.join(dup, Seq("span"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(n - 1)).as("e"))
    val byStart = Window.partitionBy("doc_id").orderBy("s")
    val merged = ivals
      .withColumn("prev_max_e", max(col("e")).over(
        byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_grp",
        (col("prev_max_e").isNull || col("s") > col("prev_max_e")).cast("int"))
      .withColumn("grp", sum(col("new_grp")).over(
        byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg((max(col("e")) - min(col("s")) + 1).as("covered"))
      .groupBy("doc_id")
      .agg(sum(col("covered")).as("dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        TextOps.tokenCount(col(textCol)).as("n_tokens"))
      .join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens").cast("double"), 4).as("dup_frac"))
  }

  /** Exact-substring REMOVAL — the corpus-rewrite step of suffix-array
    * dedup (Lee et al. 2022's released ExactSubstr tool cuts every
    * occurrence of a duplicated substring; [[dupSpanCoverage]] is the
    * measurement, this is the edit): drop every token position covered
    * by an n-token span that also occurs in ANOTHER document, and
    * reassemble what remains. Output per doc: total/kept token counts
    * and the stripped text (empty string when the whole doc was
    * duplicated boilerplate).
    *
    * Scale shape: identical to [[dupSpanCoverage]] up to the merged
    * disjoint intervals (one span-keyed shuffle with map-side partials,
    * one per-doc window — never global), then the merged intervals
    * collapse to ONE small array per doc (collect_list over disjoint
    * ranges; order-insensitive because the position test is an
    * `exists`) and the rewrite itself is pure per-row higher-order
    * column algebra against the doc's own token array — no UDF, no
    * second corpus shuffle. The output is the corpus, so the job is
    * scan-bound like any rewrite; only spans' metadata ever moves
    * through an exchange. */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = CacheOnce(tokenWindows(df, idCol, textCol, n))
    val dup = dupSpanSet(wins) // min<>max, one exchange — see dupSpanSet
    val ivals = wins.join(dup, Seq("span"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(n - 1)).as("e"))
    val byStart = Window.partitionBy("doc_id").orderBy("s")
    val merged = ivals
      .withColumn("prev_max_e", max(col("e")).over(
        byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_grp",
        (col("prev_max_e").isNull || col("s") > col("prev_max_e")).cast("int"))
      .withColumn("grp", sum(col("new_grp")).over(
        byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg(min(col("s")).as("s0"), max(col("e")).as("e0"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s0"), col("e0"))).as("ivs"))
    df.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("t"))
      .join(merged, Seq("doc_id"), "left")
      .withColumn("kept", when(col("ivs").isNull, col("t")).otherwise(
        transform(
          filter(
            transform(col("t"), (tok, i) =>
              struct(tok.as("tok"), (i + 1).as("p"))),
            x => !exists(col("ivs"), iv =>
              x("p") >= iv("s0") && x("p") <= iv("e0"))),
          x => x("tok"))))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        concat_ws(" ", col("kept")).as("text_stripped"))
  }

  /** SimHash over the doc's token multiset with a pluggable token hash:
    * per bit, sum +1/-1 weighted by token occurrences; bit set iff the sum
    * is positive. Computed as `bits` conditional aggregates after one
    * explode — one shuffle on doc_id, map-side combined. */
  def simhashSig(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column, bits: Int): DataFrame = {
    val exploded = byDoc(df, idCol)
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .withColumn("h", tokenHash(col("w")))
    val bitSums = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"bit_$i")
    }
    val sums = exploded.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { i =>
      when(col(s"bit_$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** Connected components over a near-dup pair set (columns id1, id2):
    * iterative min-label propagation to fixpoint. Returns (doc_id, comp)
    * for every doc appearing in a pair, comp = the minimum doc id in its
    * component — so a duplicate CHAIN a~b, b~c collapses to one
    * representative even when a and c never paired directly (the greedy
    * single-round [[keepList]] can't see through the chain).
    *
    * Scale shape: each round is one shuffled join + one groupBy over the
    * edge set — the standard label-propagation dataflow (cf. large-star /
    * small-star). Rounds needed = O(component diameter); near-dup
    * components are shallow (dups of dups), so `maxIter` defaults low and
    * the loop exits early on convergence (one count() action per round —
    * driver-side control flow, distributed data flow). `localCheckpoint`
    * truncates the per-round lineage so plans don't grow unboundedly. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      driverMax: Long = driverClosureMaxEdges): DataFrame = {
    val edges = symmetrizedEdges(pairs)
    // Measured-shape dispatch, three-way (r8-r10 head-to-heads,
    // BENCH_NOTES). One fused job over the checkpointed edge frame
    // measures (|edge rows|, ~|V|), then:
    //  - bounded graphs (≤ driverMax edge rows) close as driver
    //    union-find — a metadata-sized graph pays only collect+local
    //    work instead of O(log d) rounds of exchange floor;
    //  - vertex-shaped distributed graphs take min-label propagation;
    //  - edge-dominated skewed graphs take star contraction, whose
    //    per-round edge contraction collapses hot nodes while min-label
    //    re-joins the FULL original edge set every round.
    // All three return identical output (spec-pinned).
    val r = edges.agg(count(lit(1)).as("e"),
      approx_count_distinct(col("src")).as("v")).collect()(0)
    val e = r.getLong(0) / 2.0
    val v = math.max(r.getLong(1), 1L).toDouble
    // the driver branch reads ids as longs — only integral id types take
    // it (string/decimal doc ids fall through to the distributed loops,
    // which order any type)
    val integralIds = edges.schema("src").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (integralIds && r.getLong(0) <= driverMax) driverComponents(edges)
    else if (starPreferred(e, v)) connectedComponentsStar(pairs, math.max(maxIter, 30))
    else minLabelLoop(edges, r.getLong(0), maxIter)
  }

  /** Below this many (symmetrized, distinct) edge ROWS the transitive
    * closure runs as driver-side union-find instead of a distributed
    * loop. The measured dispatch job above bounds the collect BEFORE it
    * happens, so the materialization is bounded by this constant, not by
    * data — the same bounded-by-construction class as the bloom bitmap
    * (≤ m/64 longs) and the TotalOrder boundary array (nb−1 doubles).
    * 2^19 rows = 8 MB of raw (long, long) pairs — tens of MB with the
    * boxed union-find map on top, sized for a DEFAULT 1g driver (not
    * just the bench's 16g), and still ~60× every gate graph (~9k rows).
    * Why it exists: each distributed
    * propagation round costs 4-5 exchanges of scheduling constants, and
    * a metadata-sized graph pays O(log d) rounds of pure floor — the
    * union-find closes the same graph in microseconds after one collect
    * job over already-checkpointed local blocks. At corpus scale the
    * edge set blows past the bound and the distributed loops take over
    * (measured both ways, BENCH_NOTES r10). */
  private[graft] val driverClosureMaxEdges: Long = 1L << 19

  /** Driver union-find over a bounded symmetrized edge frame: path
    * halving + union by attachment under the SMALLER root id, so every
    * root IS its component minimum — identical output to the
    * distributed forms (min id per component, one row per vertex;
    * doc_id/comp keep the input id type — the dispatcher only routes
    * integral id types here). Collected as a typed Dataset (specialized
    * long pairs), not Rows. */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("src").dataType
    import spark.implicits._
    val arr = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long](arr.length * 2)
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(r, gp)
        r = gp
        p = parent.getOrDefault(r, r)
      }
      r
    }
    arr.foreach { case (s, d) =>
      val a = find(s); val b = find(d)
      if (a != b) {
        // attach the larger root under the smaller: roots stay minima
        if (a < b) parent.put(b, a) else parent.put(a, b)
      }
    }
    val verts = new java.util.HashSet[Long](arr.length * 2)
    arr.foreach { case (s, d) => verts.add(s); verts.add(d) }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](verts.size)
    verts.forEach(id => out += ((id, find(id))))
    // cast back so int/short doc ids keep their type, matching the
    // distributed forms' output schema exactly
    out.toSeq.toDF("doc_id", "comp")
      .select(col("doc_id").cast(idType), col("comp").cast(idType))
  }

  /** The dispatch boundary, exposed for the spec: star contraction only
    * from mean degree ≥ 128 — far above every measured gate graph. The
    * r8/r9 head-to-heads show min-label winning on the dense near-dup
    * cluster graphs up to the highest ratio they exhibit (33 at 10×
    * bench sf: 4,449 edges / 134 vertices — min-label 1.6 s vs star
    * 3.0 s), so the boundary is placed conservatively where per-round
    * full-edge re-joins must dominate: the extreme edge-dominated regime
    * (hot-node candidate explosions) star contraction exists for. */
  private[graft] def starPreferred(e: Double, v: Double): Boolean = e / v >= 128.0

  /** Both directions of every pair in ONE pass over `pairs`: a union of
    * two projections would evaluate the (arbitrarily expensive — the
    * gates feed a full all-pairs Jaccard here) pair plan once per
    * branch; the explode doubles rows out of a single scan instead. */
  private def symmetrizedEdges(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint()

  /** Shuffle-partition count for the component loops, sized from the
    * measured (symmetrized) edge-row count. Each propagation round is
    * 4-5 exchange stages over the SAME small frame, and at the session
    * default every exchange schedules a full complement of mostly-empty
    * tasks — on the constant-size gate graphs (~9k edge rows) the
    * session-32 loop measured 1.52 s vs 0.78 s at 4-8 partitions, pure
    * scheduling floor. ~1k edge rows per partition, floored at 4 (keeps
    * multi-core even on tiny graphs), capped at the session value so a
    * genuinely large graph keeps its parallelism — at corpus scale the
    * cap always wins and this is a no-op. */
  private def loopPartitions(spark: org.apache.spark.sql.SparkSession,
      edgeRows: Long): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(session, math.max(4, (edgeRows / 1000L).toInt))
  }

  /** Runs `body` (driver-side loop control that plans AND executes jobs)
    * with `spark.sql.shuffle.partitions` temporarily lowered to `n`,
    * restoring the prior value in finally — the same save/restore
    * pattern as [[BandIndex]]'s bucketed-scan rewrite. The conf is
    * session-scoped, so OTHER queries planned concurrently on the same
    * session during the loop would also see `n`; the bench/verify
    * harnesses and the pipeline runner execute queries sequentially, and
    * a service embedding this should serialize sessions per workload. */
  private def withShufflePartitions[T](
      spark: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    if (n.toString == prev) body
    else {
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prev)
    }
  }

  /** Min-label propagation form of [[connectedComponents]] (the
    * vertex-shaped default — callers that know their graph shape can pin
    * the algorithm; the dispatcher measures it). */
  def connectedComponentsMinLabel(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = symmetrizedEdges(pairs)
    // one job over checkpointed local blocks — cheap, and it sizes the
    // loop's exchanges
    minLabelLoop(edges, edges.count(), maxIter)
  }

  private def minLabelLoop(edges: DataFrame,
      edgeRows: Long, maxIter: Int): DataFrame =
      withShufflePartitions(edges.sparkSession,
        loopPartitions(edges.sparkSession, edgeRows)) {
    // labels == null marks round 0, whose propagation FUSES the initial
    // identity labeling: with comp0(id) = id, "min over neighbor comps"
    // is just min(dst), and the symmetrized edge set contains every
    // vertex as src — so one groupBy over edges replaces BOTH the old
    // initialLabels distinct+checkpoint and round 0's edges⋈labels join
    // (two exchanges and a materialization job saved before the loop
    // proper starts).
    var labels: DataFrame = null
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // (a) candidate label via neighbors: min over adjacent comps
      val hopped =
        if (labels == null)
          edges.groupBy(col("src").as("id"))
            .agg(min(col("dst")).as("nbr_min"))
            .select(col("id"), col("id").as("_prev"),
              least(col("id"), col("nbr_min")).as("comp"))
        else
          labels.join(
            edges
              .join(labels.select(col("id").as("dst"),
                col("comp").as("nbr_comp")), Seq("dst"))
              .groupBy(col("src").as("id"))
              .agg(min(col("nbr_comp")).as("nbr_min")),
            Seq("id"), "left")
            .select(col("id"), col("comp").as("_prev"),
              least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"))
      // (b) pointer jump (path halving): comp ← comp(comp). Labels always
      // point at smaller ids, so chasing the label's own label shortcuts
      // chains — with (a) this converges in O(log diameter) rounds, not
      // O(diameter): a million-node path needs ~20 rounds, not a million.
      // The per-round change flag rides INSIDE the checkpointed frame so
      // convergence is a filter over already-materialized local blocks,
      // not a whole extra next⋈labels shuffle join per round.
      val next = hopped.as("l")
        .join(hopped.select(col("id").as("comp"), col("comp").as("comp2")).as("p"),
          Seq("comp"), "left")
        .select(col("id"),
          coalesce(col("comp2"), col("comp")).as("comp"),
          (coalesce(col("comp2"), col("comp")) =!= col("_prev")).as("_changed"))
        .localCheckpoint()
      converged = next.filter(col("_changed")).isEmpty
      labels = next.select("id", "comp")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter > 2^maxIter); raise maxIter")
    labels.select(col("id").as("doc_id"), col("comp"))
  }

  /** Connected components by alternating large-star / small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14). Same contract as [[connectedComponents]]:
    * (doc_id, comp) for every id appearing in a pair, comp = component
    * minimum.
    *
    * Each round is two partitioned-window-minimum passes over the
    * CURRENT edge set (three exchanges, zero joins — see the in-loop
    * comment for why windows beat aggregate-then-rejoin here):
    *   large-star: for each node u, hook every neighbor v > u to
    *     m = min(N(u) ∪ {u});
    *   small-star: normalize edges to (hi, lo) and hook every lo-side
    *     neighbor (and hi itself) to the minimum lo.
    * Unlike label propagation — which joins the FULL original edge set
    * against the label frame every round — the edge set here contracts
    * toward stars as it converges, so late rounds shuffle a frame that
    * keeps shrinking; on skewed graphs (one viral near-dup cluster) the
    * hot node's edges collapse onto the component minimum after one
    * large-star instead of being re-shuffled every round. That makes this
    * the variant for edge-heavy graphs (|E| >> |V|, skewed degree);
    * fixpoint is a set of stars centered at component minima (paper
    * Thm 1), checked fail-loud like the label-prop form.
    *
    * Measured on the sf0.1×5 near-dup graph the gates use, label
    * propagation wins (1.4 s vs 2.2 s): that graph is vertex-shaped
    * (edge set ≈ vertex set, shallow components), so star contraction's
    * per-round shuffles cost more than they shrink. The gates therefore
    * stay on [[connectedComponents]]; this form is the library's
    * alternative for when candidate generation emits an edge-dominated
    * graph. r11 loop-hygiene pass (same-window A/B at sf0.1, gate
    * graph): window minima instead of groupBy+rejoin, no intermediate
    * distinct, and star-predicate convergence (detects fixpoint the
    * round it forms, not one set-equality round later) — 2.62 → 1.88 s,
    * −28%. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // one scan of the (arbitrarily expensive) pair plan: normalize to
    // (hi, lo) and checkpoint, then derive BOTH the vertex set and the
    // working edge set from the checkpointed local blocks — the previous
    // two-consumer form evaluated `pairs` once for each
    val norm = pairs
      .select(greatest(col("id1"), col("id2")).as("hi"),
        least(col("id1"), col("id2")).as("lo"))
      .localCheckpoint()
    val vertices = norm.select(col("hi").as("id"))
      .union(norm.select(col("lo").as("id")))
      .distinct()
      .localCheckpoint()
    // Undirected edge set as (hi, lo) with hi > lo; self-loops dropped.
    var edges = norm
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint()
    var iter = 0
    // Fixpoint = the edge set is a disjoint union of stars centered at
    // component minima (paper Thm 1). On (hi, lo)-normalized edges that
    // is directly checkable: every hi has exactly one edge AND no node
    // appears as both hi and lo (centers are pure-lo, leaves pure-hi;
    // center < leaves by normalization, and since nodes never vanish
    // from a still-edged component and labels only decrease, the center
    // IS the component minimum). Checking the predicate — one union +
    // one partial-aggregated groupBy per round — replaces the previous
    // set-equality probe (count + anti-join), which could only see the
    // fixpoint one full round AFTER the round that produced it: it
    // detects stars the moment they form, and fires before round 1 when
    // the candidate generator already emits stars (common for near-dup
    // clusters whose members all pair with the cluster minimum).
    def isStarSet(e: DataFrame): Boolean =
      e.select(col("hi").as("n"), lit(1).as("dh"), lit(0).as("dl"))
        .union(e.select(col("lo").as("n"), lit(0).as("dh"), lit(1).as("dl")))
        .groupBy("n").agg(sum(col("dh")).as("nh"), sum(col("dl")).as("nl"))
        .filter(col("nh") > 1 || (col("nh") > 0 && col("nl") > 0))
        .isEmpty
    // the initial edge count sizes the loop exchanges (like the
    // min-label form — the edge set only contracts, so it bounds every
    // round)
    val edgeCount = edges.count()
    var converged = false
    withShufflePartitions(pairs.sparkSession,
      loopPartitions(pairs.sparkSession, edgeCount * 2)) {
    converged = isStarSet(edges)
    while (!converged && iter < maxIter) {
      // Both star phases as PARTITIONED window minima instead of
      // groupBy + fan-back join: the aggregate-then-rejoin form paid an
      // exchange for the aggregate AND an exchange for the join side
      // every round, and its two consumers of the joined frame could not
      // share a shuffle (different subplans). A partition-only window
      // computes the same per-key minimum in one exchange and leaves the
      // carrier rows in place, so each round is exchange(u) + window,
      // exchange(hi) + window (its two consumers reuse the exchange —
      // identical subtrees), and the distinct — three exchanges, zero
      // joins. Same hot-key placement as the groupBy (a viral node's
      // edges land in one partition either way).
      import org.apache.spark.sql.expressions.Window
      // large-star over the symmetric view: m = min(N(u) ∪ {u}); hook
      // every strictly-larger neighbor to m. Emitted edges all satisfy
      // v > u ≥ m, so (v, m) is already (hi, lo)-normalized. No distinct
      // here: downstream minima are duplicate-insensitive and the
      // post-small-star distinct dedupes, so an exchange here would be a
      // full |E| shuffle per round for nothing.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val afterLarge = sym
        .withColumn("mn", min(col("v")).over(Window.partitionBy("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), least(col("mn"), col("u")).as("lo"))
        .filter(col("hi") =!= col("lo"))
      // small-star on (hi, lo): m = min(lo) per hi; hook hi and every
      // other lo-side neighbor to m.
      val w = afterLarge
        .withColumn("m", min(col("lo")).over(Window.partitionBy("hi")))
      val next = w
        .select(col("lo").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .union(w.select(col("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint()
      edges = next
      iter += 1
      converged = isStarSet(edges)
    }
    } // withShufflePartitions
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds; " +
          "raise maxIter")
    // Fixpoint is stars (non-min → component min); centers label themselves.
    vertices
      .join(edges.select(col("hi").as("id"), col("lo").as("comp")),
        Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Cluster-size histogram over the near-dup pair graph — the dedup
    * diagnostic ("how much of the corpus is duplicated, and how big are
    * the clusters?"). Docs in no pair count as size-1 clusters. Returns
    * (cluster_size, n_clusters). Scale shape: connected components
    * (O(log d) rounds) + two linear aggregations.
    *
    * CONTRACT: `pairs` is over `df`'s id column (every pair id appears
    * in `df`) — the only sane near-dup-graph use. Under it the size-1
    * count is pure arithmetic, |df| − |labeled docs|: one global
    * aggregate over a tagged union (both counts in a single pass, no
    * join — a 1×1 cross join would plan as the nested-loop shape the
    * plan audit bans) replaces the previous doc_id-shuffled anti-join,
    * and since every labeled component has ≥ 2 members (each labeled
    * doc has a neighbor), the size-1 bucket can never collide with a
    * computed bucket — no merge aggregation needed after the union. */
  def clusterSizeHistogram(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    // self-pairs (id1 == id2) would be the one way a LABELED component
    // could have size 1 and collide with the arithmetic size-1 bucket
    // below (two output rows for cluster_size = 1). A doc paired only
    // with itself IS a singleton cluster — dropping the self-pair routes
    // it through the |df| − |labeled| arithmetic, which counts it
    // exactly once. (No gate emits self-pairs — jaccardPairs joins on
    // id1 < id2 — this guards the standalone operator.)
    val comps = connectedComponents(pairs.filter(col("id1") =!= col("id2")))
    val hist = comps.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = df.select(lit(1L).as("is_doc"))
      .unionAll(comps.select(lit(0L).as("is_doc")))
      .agg(sum(col("is_doc")).as("nd"),
        (count(lit(1)) - sum(col("is_doc"))).as("nc"))
      .select(lit(1L).as("cluster_size"), (col("nd") - col("nc")).as("n_clusters"))
    hist.unionAll(singles)
      .filter(col("n_clusters") > 0)
  }

  /** Keep-list with transitive closure: keep one representative (the
    * min id) per connected component of the pair graph. Docs in no pair
    * are kept unchanged. */
  def keepListComponents(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    df.join(comps.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")
  }

  /** Quality-aware dedup resolution: keep the HIGHEST-`score` member of
    * each near-dup component (ties to the lowest id) plus every unpaired
    * doc — the "keep the best representative" rule production pipelines
    * use where [[keepListComponents]]'s arbitrary min-id would discard a
    * long original in favor of a short near-copy.
    *
    * Scale shape: component labels from [[connectedComponents]] (its
    * three-way dispatch), then ONE hash aggregate on the component id —
    * `max(struct(score, -id))` with map-side partials, so a
    * million-member boilerplate cluster reaches the reducer as one
    * pre-reduced row per upstream task — and one comp-keyed join of the
    * (small) representative frame back onto the once-materialized
    * labeled corpus. No window over components, no pairwise work beyond
    * the input pairs.
    * `score` must be numeric and ids integral (the same struct-max
    * negation trick as the argmax centroid). */
  def keepBest(df: DataFrame, idCol: String, score: Column,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs).withColumnRenamed("doc_id", idCol)
    // materialized once (CacheOnce): the labeled frame feeds the rep
    // aggregate AND the final filter — without it each reference would
    // re-evaluate df's whole upstream lineage (for a derived corpus
    // frame, the dominant cost)
    val withComp = CacheOnce(df.join(comps, Seq(idCol), "left"))
    val reps = withComp.filter(col("comp").isNotNull)
      .groupBy(col("comp"))
      .agg(max(struct(score.as("s"), (-col(idCol)).as("nid"))).as("m"))
      .select(col("comp"), (-col("m.nid")).as("_rep"))
    // null comp never joins (SQL null-key semantics), so unpaired rows
    // pass via the isNull arm and paired rows only as their component's
    // representative
    withComp.join(reps, Seq("comp"), "left")
      .filter(col("comp").isNull || col(idCol) === col("_rep"))
      .drop("comp", "_rep")
  }

  /** 64-bit SimHash keyed by xxhash64 — the fast production variant. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSig(df, idCol, textCol, w => xxhash64(w), 64)

  /** 60-bit SimHash keyed by the first 15 hex chars of md5 — slower than
    * xxhash64 but reproducible in any engine with md5 (the DuckDB oracle
    * verifies this variant bit-for-bit; the bit-vote logic is shared). */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSig(df, idCol, textCol,
      w => conv(substring(md5(w), 1, 15), 16, 10).cast("long"), 60)

  /** SimHash near-dup candidates by the pigeonhole trick: two signatures
    * within Hamming distance d < chunks must share at least one of the
    * (bits/chunks)-bit chunks exactly; equi-join on (chunk_idx,
    * chunk_value), then verify the true Hamming distance with
    * bit_count(xor). More chunks narrow each chunk (4×16 → 8×8), raising
    * the guaranteed distance while keeping the join selective at larger
    * corpora (2^width buckets per chunk position). */
  def simhashNearDups(signatures: DataFrame, maxHamming: Int,
      chunks: Int = 4, bits: Int = 64): DataFrame = {
    require(maxHamming < chunks,
      s"pigeonhole completeness needs maxHamming < chunks ($maxHamming >= $chunks)")
    simhashCandidates(signatures, chunks, bits)
      .filter(col("hamming") <= maxHamming)
  }

  /** Candidate pairs sharing at least one signature chunk, with their true
    * Hamming distance — the pre-filter stage of [[simhashNearDups]],
    * exposed so specs can measure the chunking selectivity trade-off:
    * fewer/wider chunks (4×16) give 2^16 buckets per position and a small
    * candidate set but only guarantee d<4; more/narrower chunks (8×8) are
    * complete to d<8 at the cost of 2^8 buckets, i.e. MORE candidates.
    * Pick the narrowest chunking whose guarantee covers the target
    * distance. */
  def simhashCandidates(signatures0: DataFrame,
      chunks: Int = 4, bits: Int = 64): DataFrame = {
    require(bits % chunks == 0, s"chunks ($chunks) must divide bits ($bits)")
    val width = bits / chunks
    val mask = (1L << width) - 1
    // both sides of the chunk self-join re-run the whole signature
    // pipeline (tokenize + per-bit votes) without one materialization
    val signatures = CacheOnce(signatures0)
    val chunked = signatures.select(col("doc_id"), col("simhash"),
      explode(array((0 until chunks).map(i =>
        struct(lit(i).as("chunk_idx"),
          shiftright(col("simhash"), i * width).bitwiseAND(mask)
            .as("chunk_value"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"),
        col("ch.chunk_idx"), col("ch.chunk_value"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx")
          && col("a.chunk_value") === col("b.chunk_value")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
  }

  // --------------------------------------------------------------------
  // Portable Bloom-filter membership sketch — the URL/doc-id dedup
  // prefilter every large-scale ingest runs before touching the corpus.
  //
  // The classic anti-join "which batch keys are new?" shuffles BOTH
  // sides on the key; at 100 TB the corpus side of that shuffle is the
  // bottleneck, and it repeats every batch. The Bloom path scans the
  // corpus once into an m-bit bitmap (the only shuffle is ≤ m/64
  // (word, bits) rows), broadcasts the bitmap, and probes the batch
  // with pure per-row column algebra — zero shuffle of either side.
  // Bloom rejects are DEFINITELY new (no false negatives), so only the
  // pass-set — members plus the ~fpp sliver of false positives — needs
  // the exact verification join ([[bloomNewKeys]]).
  //
  // The hash family is the same md5+affine construction as the portable
  // MinHash (one 60-bit md5 per key, k affine transforms mod p = 2^31−1,
  // every product < 2^62 so 64-bit exact in any engine), which makes the
  // whole sketch — positions, bitmap, membership verdicts — replayable
  // by the DuckDB oracle in its equivalent set form: "bit pos is set"
  // ⟺ "pos ∈ the corpus's distinct position set" (gate
  // dedup_bloom_prefilter pins exactly that, hash-checked).
  // --------------------------------------------------------------------

  /** The k portable bit positions of one key's base hash `b`:
    * pos_i = (a_i·b + c_i) mod p mod m (same a/c family as the portable
    * MinHash — fixed functions of i, so Spark and the SQL twin cannot
    * drift). */
  private def bloomPositions(b: Column, mBits: Int, k: Int): Seq[Column] =
    (0 until k).map(i =>
      (lit(affineA(i)) * b + lit(affineC(i))) % minhashP % mBits)

  private def bloomBaseHash(key: Column): Column =
    graft.operators.Sampling.hash60(key.cast("string")) % minhashP

  /** The pre-reduced `(word, bits)` rows of `df`'s keys — every 64-bit
    * bitmap word touched by any key, bits OR'd map-side. At most m/64
    * rows regardless of `df`'s size (that bound is what lets the
    * streaming driver-resident bitmap collect this frame safely —
    * [[graft.streaming.BloomStream]]). */
  def bloomWords(df: DataFrame, keyCol: String, mBits: Int, k: Int): DataFrame = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits ($mBits) must be a positive multiple of 64")
    df.select(explode(array(
        bloomPositions(bloomBaseHash(col(keyCol)), mBits, k): _*)).as("pos"))
      .distinct()
      .groupBy((col("pos") / 64).cast("long").as("word"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        (col("pos") % 64).cast("int"))).as("bits"))
  }

  /** Build the m-bit Bloom bitmap over `corpus`'s key column as ONE row
    * `bloom: map<word_idx, or'd bits>` (sparse: absent word = 0L). The
    * map is at most m/64 entries (m = 2^20 → 16 K longs ≈ 128 KB) — a
    * broadcast-sized sketch of an arbitrarily large corpus, built with
    * one scan + one tiny position shuffle. */
  def bloomBuild(corpus: DataFrame, keyCol: String, mBits: Int, k: Int): DataFrame =
    bloomWords(corpus, keyCol, mBits, k)
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits"))))
        .as("bloom"))

  /** Session-memoized bitmap values: the whole point of the sketch is
    * "build ONCE over the corpus, probe every batch against it", and a
    * `.cache()`d plan does not deliver that — any harness/session
    * `clearCache()` silently reverts every later probe to a full corpus
    * re-scan. The bitmap is bounded by construction (≤ m/64 longs,
    * 128 KB at m = 2^20 — the same bound BloomStream's driver-resident
    * restore relies on), so the MATERIALIZED map lives here, keyed by
    * (corpus plan semantic hash, corpus FILE fingerprint, keyCol, m, k);
    * sessions are weak keys so stopped sessions collect.
    *
    * The file fingerprint ([[graft.core.SourceFingerprint]]) is what
    * makes the memo safe for CORRECTNESS, not just performance: the
    * semantic hash alone identifies the path, not the data, so a session
    * that rewrote the corpus directory would otherwise probe the old
    * bitmap — and a stale bitmap can produce false NEGATIVES, which
    * [[bloomNewKeys]] routes past the exact verification join. Writers
    * emit fresh UUID part-file names per commit, so any rewrite misses
    * the memo and rebuilds (BloomSpec pins this: rewrite → re-read →
    * fresh verdicts). */
  /** Sessions already warned that their bloom corpus has no
    * fingerprintable leaf (weak: entries die with the session). */
  private val bloomNoFingerprintWarned =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  private val bloomBitmapCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[(Int, Long, String, Int, Int), Map[Long, Long]]]()

  /** Explicit invalidation hook for the session's memoized bloom bitmaps.
    * The fingerprinted key already invalidates on any corpus-file rewrite;
    * this hook exists for (a) callers that mutate a NON-file corpus source
    * the fingerprint cannot see (e.g. JDBC), and (b) harnesses that want
    * per-measurement cold semantics (Bench resets it per query so timed
    * probes pay the corpus scan the gate SQL implies). */
  def invalidateBloomMemo(spark: org.apache.spark.sql.SparkSession): Unit =
    bloomBitmapCache.synchronized {
      val m = bloomBitmapCache.get(spark)
      if (m != null) m.clear()
    }

  /** [[bloomBuild]] with the materialized bitmap memoized on the session
    * (see [[bloomBitmapCache]]): the first call pays the corpus scan,
    * every later call — across cache clears — returns a one-row local
    * frame with zero corpus I/O. NOTE: calling this EAGERLY runs the
    * corpus scan on a memo miss, at plan-BUILD time — a deliberate
    * laziness trade (the bitmap values must be pinned driver-side so
    * every consumer reads one sketch draw). The memo key includes a file
    * fingerprint of the corpus plan, so a rewritten corpus directory
    * re-read in the same session rebuilds rather than serving a stale
    * bitmap. Emits the DENSE `array<bigint>` shape
    * (O(1) probes — see [[bloomProbe]]'s shape note); the memo itself
    * stays sparse (words actually set). Probe economics for nightly
    * batches. */
  def bloomBuildCached(corpus: DataFrame, keyCol: String, mBits: Int, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val perSession = bloomBitmapCache.synchronized {
      val existing = bloomBitmapCache.get(spark)
      if (existing != null) existing
      else {
        val m = scala.collection.concurrent.TrieMap
          .empty[(Int, Long, String, Int, Int), Map[Long, Long]]
        bloomBitmapCache.put(spark, m)
        m
      }
    }
    def buildWords(): Map[Long, Long] = {
      val row = bloomBuild(corpus, keyCol, mBits, k).collect()(0)
      if (row.isNullAt(0)) Map.empty[Long, Long]
      else row.getMap[Long, Long](0).toMap
    }
    val words = graft.core.SourceFingerprint.ofCovered(corpus) match {
      case Some(fp) =>
        perSession.getOrElseUpdate(
          (corpus.semanticHash(), fp, keyCol, mBits, k), buildWords())
      case None =>
        // no file-backed leaf (JDBC, views over mutable sources): the
        // fingerprint cannot witness a rewrite, so a memo keyed on the
        // plan alone could serve a stale bitmap whose false NEGATIVES
        // route past the exact verification join. Build fresh every
        // call — correctness over amortization — and say so once per
        // session (a per-micro-batch caller would otherwise get one
        // identical WARN per trigger).
        if (Dedup.bloomNoFingerprintWarned.add(spark))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "bloom memo disabled: corpus plan has no file-backed leaf to " +
              "fingerprint; rebuilding the bitmap on every call")
        buildWords()
    }
    val denseArr = new Array[Long](mBits / 64)
    words.foreach { case (w, b) => denseArr(w.toInt) = b }
    import spark.implicits._
    Seq(denseArr.toSeq).toDF("bloom")
  }

  /** Probe: `batch` plus a `bloom_pass` flag — true iff all k bits for
    * the key are set. Per-row column algebra over the broadcast one-row
    * bitmap: the batch never shuffles. Sign-safe bit test (AND against
    * the shifted mask, not a shift-right of the word — bit 63's shifted
    * word is negative).
    *
    * Accepts both bitmap shapes (inspected statically from the schema,
    * no action): the DENSE `array<bigint>` (length m/64 — element_at is
    * O(1)) and the sparse `map<bigint,bigint>` [[bloomBuild]] emits.
    * Probing at a properly-sized m must use the dense shape: Spark map
    * literals have no hash index, so a map element_at is a LINEAR scan
    * of m/64 entries per lookup — measured 5.6 s vs 0.5 s on the
    * dedup_bloom_new gate at 10× bench scale the moment m grew from 2^12
    * to 2^21. */
  def bloomProbe(batch: DataFrame, keyCol: String, bloom: DataFrame,
      mBits: Int, k: Int): DataFrame = {
    val pos = array(bloomPositions(bloomBaseHash(col(keyCol)), mBits, k): _*)
    val dense = bloom.schema("bloom").dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    // positions are nonnegative by construction (hash60 and the affine
    // family are nonnegative, products fit a long), so the dense index
    // is always in [1, m/64] and safe under ANSI element_at
    def word(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (dense) element_at(col("bloom"), (p / 64).cast("int") + 1)
      else coalesce(element_at(col("bloom"), (p / 64).cast("long")), lit(0L))
    batch.crossJoin(broadcast(bloom))
      .withColumn("bloom_pass", forall(pos, p =>
        word(p)
          .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int")))
          =!= 0L))
      .drop("bloom")
  }

  /** EXACT "which batch rows are new?" through the Bloom prefilter:
    * rejects are definitely new (no false negatives — spec-pinned);
    * passes (members + the fpp sliver) are verified with a left-anti
    * join whose shuffle volume is the pass-set, not the batch. Output
    * equals the plain batch-anti-corpus join row for row (gate
    * dedup_bloom_new hash-checks that against the plain-anti-join
    * oracle), so callers trade nothing for the shuffle cut.
    *
    * Correctness depends on the memoized bitmap being CURRENT — a stale
    * bitmap's false negatives would skip verification. The memo key
    * therefore fingerprints the corpus's file listing
    * ([[graft.core.SourceFingerprint]]); rewriting the corpus and
    * re-reading it in the same session rebuilds the bitmap
    * (spec-pinned). First call per (corpus, key, m, k) eagerly scans the
    * corpus at plan-build time. */
  def bloomNewKeys(corpus: DataFrame, batch: DataFrame, keyCol: String,
      mBits: Int, k: Int): DataFrame = {
    // one materialization, session-lifetime: the bitmap feeds both probe
    // branches below AND every later batch in the session (the memo
    // survives cache clears — amortization is the operator's contract)
    val bloom = bloomBuildCached(corpus, keyCol, mBits, k)
    val probed = bloomProbe(batch, keyCol, bloom, mBits, k)
    val definitelyNew = probed.filter(!col("bloom_pass")).drop("bloom_pass")
    val needVerify = probed.filter(col("bloom_pass")).drop("bloom_pass")
    // no distinct on the anti-join's right side: left-anti semantics are
    // unaffected by build-side duplicates, and the distinct was a whole
    // extra shuffle+agg stage over the corpus
    definitelyNew.unionByName(
      needVerify.join(corpus.select(col(keyCol)), Seq(keyCol), "left_anti"))
  }
}
