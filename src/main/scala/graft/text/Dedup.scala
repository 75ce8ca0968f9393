package graft.text

import graft.ops.Caching
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and word-set Jaccard. All deterministic (hash functions are
  * seeded `xxhash64`), all shuffle-aware:
  *
  *  - exact dedup: one hash-groupBy shuffle on a 64-bit key (not the text
  *    itself — at 100 TB you never shuffle full documents to compare them);
  *  - MinHash/LSH: signatures are a pure map; candidate generation is an
  *    equi-join on (band, bandHash) buckets, so the only shuffle key is a
  *    small int pair and skew is bounded by bucket size;
  *  - SimHash: 64 codegen'd conditional sums per doc — a single partial+final
  *    aggregate, no per-doc loops.
  */
object Dedup {

  /** Exact-dup key over the normalized text: two independently-seeded 64-bit
    * hashes (~128-bit effective). A single 64-bit key has ~50% birthday
    * collision odds around 5e9 documents — a silent false-dedup at corpus
    * scale; two keys push that past any realistic corpus. */
  def exactKey(text: Column): Column = {
    val n = TextStats.normalize(text)
    struct(xxhash64(n).as("k1"), xxhash64(lit(1), n).as("k2"))
  }

  /** Exact duplicate groups: key, keeper (min doc_id), group size. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), exactKey(col("text")).as("dup_key"))
      .groupBy("dup_key")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Dataset with exact duplicates removed (keeps min doc_id per group). */
  def dropExactDups(docs: DataFrame): DataFrame = {
    val keepers = exactDupGroups(docs).select(col("keeper_id").as("doc_id"))
    docs.join(keepers, Seq("doc_id"), "left_semi")
  }

  /** MinHash signatures, one row (`idCol`, `sig`) per input row: the
    * native [[graft.functions.MinhashSignature]] over the doc's normalized
    * tokens hashes each word `shingleSize`-gram once (the docGrams hash
    * domain) and keeps, per seed p, the min of `xxhash64(p, gram hash)`:
    * a narrow projection, no gram rows and no shuffle. A null or empty
    * text signs the one empty gram "", as the gram stream did. Per row,
    * not per id: every caller passes a frame keyed on `idCol` (the
    * exact-dedup survivors or the unique-id `documents` table into
    * [[lshCandidatePairs]], one ingest batch into
    * `CorpusIngest.withLshBands`). */
  def minhashSignatures(docs: DataFrame, numPerms: Int, shingleSize: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), graft.functions.HashSets.minhashSignatureCol(
      coalesce(TextStats.normTokens(col(textCol)), array().cast("array<string>")),
      shingleSize, numPerms).as("sig"))

  /** LSH banding: (bandId, bandHash) pairs from a MinHash signature; docs
    * sharing any band bucket are near-dup candidates.
    *
    * The band hash is xxhash64 over the band's signature LONGS plus the
    * band id — not over a "_"-joined string of them (the r16 spelling),
    * which allocated a ~90-char string per (doc, band) on every signing
    * pass. Equal slices hash equal either way, so the candidate sets (and
    * with the exact verify, the RESULT sets) are unchanged; only the
    * bucket ids differ, and they are internal to a run. */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"), bandHash(signature, b, rowsPerBand).as("band_hash")))

  /** xxhash64 of a band's `rowsPerBand` signature entries + the band id —
    * ONE spelling shared by [[lshBands]] (array form, stored in ingest
    * indexes) and the positional-explode candidate stage, so cross-side
    * band joins can never drift. */
  private[graft] def bandHash(sig: Column, band: Column, rowsPerBand: Int): Column =
    xxhash64(((0 until rowsPerBand).map(i =>
      element_at(sig, band * rowsPerBand + i + 1)) :+ band): _*)

  /** MinHash+LSH candidate pairs: banded signatures, equi-join on
    * (band, bandHash), i<j dedup. Shared by the word- and shingle-verified
    * near-dup operators — the only shuffle keys are small int pairs. */
  private[graft] def lshCandidatePairs(docs: DataFrame, numPerms: Int, bands: Int,
                                shingleSize: Int): DataFrame = {
    val rowsPerBand = numPerms / bands
    val sig = minhashSignatures(docs, numPerms, shingleSize)
    // positional explode of the band INDEX (TextStats.gramStream's codegen
    // rationale), one band hash per output row — the same (band, hash)
    // values lshBands assembles, without exploding a computed struct array
    val buckets = sig.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        bandHash(col("sig"), col("band"), rowsPerBand).as("band_hash"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Near-duplicate candidate pairs via MinHash + LSH, verified with exact
    * word-set Jaccard and filtered at `threshold`. Returns
    * (doc_a, doc_b, jaccard). The verify join re-reads only candidate pairs —
    * candidate count, not corpus size squared, bounds the cost. */
  def minhashNearDups(docs: DataFrame, numPerms: Int = 32, bands: Int = 8,
                      shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = lshCandidatePairs(docs, numPerms, bands, shingleSize)
    // sorted distinct 64-bit token hashes, not string arrays: the verify
    // join shuffles 8-byte longs and intersects by merge walk (identical
    // counts modulo the standing 2^-64 docGrams collision contract)
    val words = docs.select(col("doc_id"),
      graft.functions.HashSets.hashedTokenSetCol(
        TextStats.normTokens()).as("w"))
    verifyPairs(pairs, words, "w", threshold)
  }

  /** Distinct word-`shingleSize`-gram sets per document — the exact metric
    * MinHash signatures approximate. Two-stage projection on purpose: the
    * shingle expression references its token array several times, and
    * higher-order-function lambdas defeat common-subexpression elimination,
    * so inlining the tokenizer would re-run the normalize/split regexes per
    * reference (measured 7x slower at corpus scale). Materializing `toks`
    * first makes every reference an attribute read; CollapseProject keeps
    * non-cheap multiply-referenced projections separate, so the split
    * survives optimization. */
  def shingleSets(docs: DataFrame, shingleSize: Int = 3): DataFrame =
    docs.select(col("doc_id"),
        TextStats.normTokens().as("toks"))
      .select(col("doc_id"),
        array_distinct(TextStats.shinglesOf(col("toks"), shingleSize)).as("s"))

  /** [[shingleSets]] in the 64-bit hash domain (the docGrams contract):
    * sorted distinct xxhash64 gram values via the native
    * [[graft.functions.ShingleHashSet]] expression — one reusable buffer
    * per thread instead of one string per gram position, long arrays
    * instead of string arrays through the verify shuffle, counts identical
    * (HashSetSpec pins gram-hash equality to the string spelling). */
  def hashedShingleSets(docs: DataFrame, shingleSize: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.HashSets.shingleHashSetCol(TextStats.normTokens(), shingleSize).as("s"))

  /** Distinct (doc_id, 64-bit gram hash) rows, the hashed-gram stream every
    * containment/novelty operator counts over: the explode of each doc's
    * [[graft.functions.ShingleHashSet]], whose hashes equal `xxhash64(gram)`
    * of [[TextStats.gramStream]] (HashSetSpec), so no gram string is built
    * and no `distinct()` shuffles. A null or empty text yields the one gram
    * "", as in [[minhashSignatures]]. Distinct per row, not per id: every
    * caller passes a frame keyed on `doc_id`. */
  def docGrams(docs: DataFrame, shingleSize: Int = 3): DataFrame =
    docs.select(col("doc_id"), explode(graft.functions.HashSets.shingleHashSetCol(
      coalesce(TextStats.normTokens(col("text")), array().cast("array<string>")),
      shingleSize)).as("g"))

  /** Directional CONTAINMENT near-duplicates — the "document A is embedded
    * in document B" detector symmetric Jaccard structurally misses (a short
    * doc fully quoted inside a long one has tiny Jaccard but containment
    * ≈ 1): for each candidate pair, c(A→B) = |A∩B| / |A| over distinct
    * shingle sets, reported both directions, kept when either side clears
    * `threshold`. The quote/snippet/aggregator-page case of a web-corpus
    * dedup pass.
    *
    * Everything is counting — no arrays move past the explode: distinct
    * (doc, shingle-hash) rows self-join on the 64-bit hash (shared count =
    * group size), set sizes come from one aggregate, and the division is
    * the only float. Hub control: shingles in more than `maxDf` documents
    * are dropped FIRST (a corpus-frequent boilerplate gram joins every doc
    * pair — the classic shared-token self-join blow-up; at `maxDf` docs a
    * gram contributes at most maxDf² pair rows). The prune is part of the
    * CONTRACT (sizes count pruned sets too), so the oracle replays it with
    * the same integer arithmetic; set `maxDf` ≈ the boilerplate knee at
    * scale. Pairs with zero shared (post-prune) shingles never appear. */
  def containmentNearDups(docs: DataFrame, shingleSize: Int = 3,
                          threshold: Double = 0.5,
                          maxDf: Long = 1000): DataFrame = {
    // stage leaves (Caching contract): grams feeds the DF census and the
    // prune; kept feeds sizes + both self-join sides — without the persists
    // the tokenize/shingle/hash corpus pass re-runs five times
    val grams = Caching.stage(docGrams(docs, shingleSize))
    val kept = Caching.stage(keptGrams(grams, maxDf))
    val shared = kept.as("x").join(kept.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    containmentVerdict(shared, gramSetSizes(kept), threshold)
  }

  /** The df-pruned (doc_id, g) gram table: grams in at most `maxDf`
    * documents (the containment hub control — see [[containmentNearDups]]). */
  private def keptGrams(grams: DataFrame, maxDf: Long): DataFrame =
    grams.join(
      grams.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("g"),
      Seq("g"), "left_semi")

  /** Per-doc distinct gram-set size (doc_id, sz) of a (doc_id, g) table. */
  private[graft] def gramSetSizes(grams: DataFrame): DataFrame =
    grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))

  /** The containment verdict over (doc_a, doc_b, n_shared) pair counts:
    * both directions' set sizes joined in, kept when either direction's
    * c = n_shared / sz clears `threshold`, ratios reported at 6 dp. */
  private def containmentVerdict(shared: DataFrame, sizes: DataFrame,
                                 threshold: Double): DataFrame =
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .filter(greatest(
        col("n_shared").cast("double") / col("sz_a").cast("double"),
        col("n_shared").cast("double") / col("sz_b").cast("double")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("sz_a"), col("sz_b"),
        round(col("n_shared").cast("double") / col("sz_a").cast("double"), 6)
          .as("containment_a"),
        round(col("n_shared").cast("double") / col("sz_b").cast("double"), 6)
          .as("containment_b"))

  /** Bottom-k sketch of a (doc_id, g) table: each document's `k` grams of
    * smallest doc-salted rank xxhash64(doc_id, g) (one shuffle on doc_id;
    * WindowGroupLimit prunes before the exchange). Salting with doc_id, NOT
    * ranking by the raw gram hash: under the raw hash a corpus-frequent
    * gram that happens to hash small lands in EVERY containing doc's
    * bottom-k, and the candidate join pays that gram's full df² (the exact
    * form's blow-up, resurrected through the sketch). The salt
    * decorrelates the samples, so a df-d hub gram is sampled by ~d·k/sz̄
    * docs instead of d — and the per-doc sample is still a uniform
    * k-subset, so the recall bound is unchanged. */
  private[graft] def bottomKSketch(grams: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(xxhash64(col("doc_id"), col("g")), col("g"))
    grams.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("doc_id", "g")
  }

  /** The evidence-count prune on a sampler's `s` sketch hits against
    * another doc: a pair with c(x→y) ≥ t shares ~c·min(k, sz_x) of x's
    * sampled grams (hypergeometric), so requiring 4·s ≥ t·min(k, sz_x)
    * keeps it except with Chernoff probability ~2e-10 at k = 64, t = 0.5
    * (docs with sz ≤ k are sampled completely: s = n_shared, so the bound
    * holds with equality — zero misses), while pairs sharing only a stray
    * template gram (the vast majority of raw sketch hits on boilerplate-
    * heavy corpora) never reach the verify join. */
  private[graft] def sketchEvidence(s: Column, sz: Column, threshold: Double,
                                    k: Int): Column =
    s.cast("double") * 4.0 >= lit(threshold) * least(lit(k.toLong), sz).cast("double")

  /** [[containmentNearDups]] with a BANDED candidate stage — the true
    * 100 TB form: the exact version's kept-gram self-join is Σ df² pair
    * rows, fine under a tight `maxDf` but quadratic in the surviving
    * document frequencies; here candidates come from a BOTTOM-K SKETCH
    * (Broder): each document's `sketchK` smallest gram hashes probe the
    * full DF-pruned gram table, so the candidate join moves ≤ sketchK·N
    * sketch rows instead of the full gram stream against itself.
    *
    * Why not MinHash-LSH banding: band-collision probability tracks
    * symmetric JACCARD, and the quote-in-page pair this operator exists for
    * has J ≈ |A|/|B| — arbitrarily small — so Jaccard banding structurally
    * misses exactly the pairs that matter. The bottom-k sketch bounds the
    * DIRECTIONAL miss instead: hashes are uniform, so a doc's k smallest
    * grams are a uniform k-subset, and a pair with containment c ≥
    * `threshold` shares ~c·k of them — the evidence-count prune below keeps
    * it except with Chernoff probability ~2e-10 at the defaults (docs with
    * ≤ sketchK grams are sampled completely: zero misses). The verify stage
    * then recomputes the EXACT shared-gram counts for candidate pairs only
    * (two candidate-pruned hash joins), so the result set equals
    * [[containmentNearDups]] up to that margin — which is how the oracle
    * spells it (the exact counting replay, no sketch).
    *
    * EQUALITY CONTRACT IS PER-PAIR, NOT CORPUS-WIDE: the ~2e-10 Chernoff
    * miss bound holds for each true pair independently (and degrades for
    * pairs whose containment sits just above `threshold` — the margin in
    * the 4·s ≥ t·min(k, sz) prune shrinks as c → t). At billions of
    * qualifying pairs the union-bound expected miss count is no longer
    * negligible; when corpus-scale strictness matters, raise `sketchK`
    * (the bound tightens exponentially in k) or verify with the exact
    * [[containmentNearDups]] form. The q185/q186 oracle equality holds
    * with overwhelming probability at test scale, not as an identity. */
  def containmentNearDupsBanded(docs: DataFrame, shingleSize: Int = 3,
                                threshold: Double = 0.5, maxDf: Long = 1000,
                                sketchK: Int = 64): DataFrame =
    containmentNearDupsBandedTracked(docs, shingleSize, threshold, maxDf,
      sketchK).result

  /** [[containmentNearDupsBandedTracked]]'s result triple: the pair table,
    * the persisted frames behind its stage leaves (the handles to release
    * after consumption), and the RAW (doc_id, g) gram leaf — exposed so a
    * caller that needs grams of a SUBSET of `docs` downstream (the
    * streaming ingest's index maintenance) can semi-join this frame instead
    * of re-tokenizing the corpus (same rows by construction: doc text is
    * immutable within a batch, so grams(subset) == grams(docs) ⋉ ids). */
  private[graft] final case class TrackedContainment(
      result: DataFrame, caches: Seq[Dataset[_]], rawGrams: DataFrame)

  /** [[containmentNearDupsBanded]] plus its [[graft.ops.Caching.stage]]
    * entries, for callers that must release them deterministically once
    * the result is consumed (a long-running streaming query has no harness
    * [[graft.ops.Caching.releaseAll]] hook between micro-batches —
    * without the handles the per-batch persists accumulate without bound
    * in executor storage memory). Batch callers keep using the public
    * form; the harness reclaims via releaseAll. */
  private[graft] def containmentNearDupsBandedTracked(
      docs: DataFrame, shingleSize: Int = 3, threshold: Double = 0.5,
      maxDf: Long = 1000, sketchK: Int = 64): TrackedContainment = {
    val held = Seq.newBuilder[Dataset[_]]
    val grams = Caching.stage(docGrams(docs, shingleSize), held += _)
    val kept = Caching.stage(keptGrams(grams, maxDf), held += _)
    val sketch = bottomKSketch(kept, sketchK)
    val sizes = Caching.stage(gramSetSizes(kept), held += _)
    // candidates: sketched grams of one doc found in the other's kept set,
    // with the EVIDENCE-COUNT prune (in SOME direction) before the
    // expensive verify
    val hits = sketch.as("x").join(kept.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("sampler"), col("y.doc_id").as("other"))
      .agg(count(lit(1)).as("s"))
      .join(sizes.select(col("doc_id").as("sampler"), col("sz")), Seq("sampler"))
      .filter(sketchEvidence(col("s"), col("sz"), threshold, sketchK))
    val cand = hits
      .select(least(col("sampler"), col("other")).as("doc_a"),
        greatest(col("sampler"), col("other")).as("doc_b"))
      .distinct()
    // exact verify on candidate pairs only: same counting arithmetic as the
    // exact operator, candidate-pruned on both sides
    val shared = cand
      .join(kept.as("x"), col("x.doc_id") === col("doc_a"))
      .join(kept.as("y"),
        col("y.doc_id") === col("doc_b") && col("x.g") === col("y.g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    TrackedContainment(containmentVerdict(shared, sizes, threshold),
      held.result(), grams)
  }

  /** Cross-source duplication matrix — which domains copy from which: every
    * shingle-verified near-dup pair (the q24-exact banding, so exact
    * duplicates ride along at J = 1) annotated with its two documents'
    * sources and counted per unordered source pair. The standard curation
    * telemetry before setting mixture weights: a mirror site, syndicated
    * feed, or template farm shows up as an off-diagonal spike, and the
    * diagonal is each source's internal redundancy. Scale shape: the pair
    * table is LSH-banded (never all-pairs), the two source lookups are
    * joins on doc_id against a two-column projection, and the final
    * aggregate is |sources|² rows at most. */
  def sourceOverlapMatrix(docs: DataFrame, threshold: Double = 0.8,
                          numPerms: Int = 128, bands: Int = 32,
                          shingleSize: Int = 3): DataFrame = {
    val pairs = minhashNearDupsShingle(docs, numPerms, bands, shingleSize,
      threshold)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("doc_a", "src_a"), Seq("doc_a"))
      .join(src.toDF("doc_b", "src_b"), Seq("doc_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Dedup-adjusted EFFECTIVE token counts per source — the numbers mixture
    * weights should actually be set from: raw token/document counts next to
    * the counts over [[dedupCorpusShingle]]'s canonical survivors, plus the
    * exact per-mille kept ratio (integer division — engine-portable). A
    * source that shrinks 40% under dedup contributes 40% fewer unique
    * tokens than its raw size claims; weighting by raw size over-samples
    * duplicated domains (the arXiv:2107.06499 §4 effect). One dedup pass +
    * two map-side-combined per-source aggregates. */
  def effectiveTokens(docs: DataFrame, threshold: Double = 0.8,
                      numPerms: Int = 128, bands: Int = 32,
                      shingleSize: Int = 3): DataFrame = {
    def perSource(d: DataFrame, tokCol: String, docCol: String): DataFrame =
      d.select(col("source"), size(TextStats.normTokens()).cast("long").as("nt"))
        .groupBy("source")
        .agg(sum("nt").as(tokCol), count(lit(1)).as(docCol))
    val raw = perSource(docs, "raw_tokens", "raw_docs")
    val eff = perSource(
      dedupCorpusShingle(docs, threshold, numPerms, bands, shingleSize),
      "effective_tokens", "effective_docs")
    raw.join(eff, Seq("source"), "left")
      .select(col("source"), col("raw_tokens"), col("raw_docs"),
        coalesce(col("effective_tokens"), lit(0L)).as("effective_tokens"),
        coalesce(col("effective_docs"), lit(0L)).as("effective_docs"))
      .withColumn("kept_permille",
        // a source of only zero-token docs has raw_tokens = 0 and idiv's
        // pmod would divide by zero under ANSI — it kept nothing: 0‰
        when(col("raw_tokens") > 0,
          graft.ops.Analytics.idiv(col("effective_tokens") * lit(1000L),
            col("raw_tokens"))).otherwise(lit(0L)))
  }

  /** Deterministic removal set from containment pairs: a document goes if it
    * is embedded in another kept document — for a pair at `threshold`, drop
    * the CONTAINED side (the quote, not the page); mutual containment
    * (near-identical docs both above threshold) keeps the smaller doc_id,
    * the same canonical-keeper convention as [[clusterPairs]]. One pass
    * over the pair table, no iteration: containment is (approximately)
    * transitive, so a chain a ⊑ b ⊑ c also surfaces the (a, c) pair
    * directly and removals never orphan a survivor. */
  def containmentRemovals(pairs: DataFrame, threshold: Double): DataFrame = {
    // UNROUNDED ratios (the reported containment_* columns are 6 dp-rounded
    // for display; decisions must use the same arithmetic as the pair
    // filter, or a boundary value could pass the filter and skip removal)
    val ca = col("n_shared").cast("double") / col("sz_a").cast("double") >= threshold
    val cb = col("n_shared").cast("double") / col("sz_b").cast("double") >= threshold
    pairs.filter(ca || cb)
      .select(when(ca && cb, col("doc_b"))
        .when(ca, col("doc_a")).otherwise(col("doc_b")).as("doc_id"))
      .distinct()
  }

  /** Drop documents embedded in other kept documents — the containment
    * dedup STAGE (banded candidates, exact verify): anti-join the
    * [[containmentRemovals]] of [[containmentNearDupsBanded]]. */
  def dropContained(docs: DataFrame, shingleSize: Int = 3,
                    threshold: Double = 0.8, maxDf: Long = 1000,
                    sketchK: Int = 64): DataFrame =
    dropContainedTracked(docs, shingleSize, threshold, maxDf, sketchK).result

  /** [[dropContained]] plus the cache entries its banded candidate stage
    * creates — for per-micro-batch streaming callers that must release
    * them after consuming the result (see
    * [[containmentNearDupsBandedTracked]]). */
  private[graft] def dropContainedTracked(
      docs: DataFrame, shingleSize: Int = 3, threshold: Double = 0.8,
      maxDf: Long = 1000, sketchK: Int = 64): TrackedContainment = {
    val t = containmentNearDupsBandedTracked(
      docs, shingleSize, threshold, maxDf, sketchK)
    TrackedContainment(
      docs.join(containmentRemovals(t.result, threshold), Seq("doc_id"), "left_anti"),
      t.caches, t.rawGrams)
  }

  /** Per-document n-gram NOVELTY against everything earlier in the corpus
    * (doc_id order = ingestion order): the fraction of a document's
    * distinct shingles whose FIRST corpus occurrence is this document.
    * The dataset-redundancy curve — novelty falling toward 0 as a crawl
    * grows is the signal that marginal data is mostly repeats (scaling-law
    * dataset-curation telemetry). One distinct (doc, hash) explode, one
    * min-per-gram aggregate (vocabulary-sized), one hash join back —
    * nothing document-sized shuffles twice. Deterministic: ties inside one
    * document count as novel exactly once (min doc_id == the doc). */
  def gramNovelty(docs: DataFrame, shingleSize: Int = 3): DataFrame =
    Caching.scoped { scope =>
      // scoped interim (Caching contract): the min-per-gram branch and the
      // join-back both read the hashed gram stream; the result is
      // materialized and the caller releases it
      val grams = scope.materialize(docGrams(docs, shingleSize))
      Caching.materialize(noveltyAgainst(grams,
        grams.groupBy("g").agg(min("doc_id").as("first_doc"))))
    }

  /** Per-doc novelty of a hashed-gram stream against a (g, first_doc)
    * first-occurrence table — the join-back + ratio stage shared by the
    * full recompute ([[gramNovelty]]) and the O(delta) incremental path
    * ([[graft.tables.Materialize.refreshNovelty]] + the view read). */
  def noveltyAgainst(grams: DataFrame, first: DataFrame): DataFrame =
    grams.join(first, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
          .as("novelty"))

  /** Near-duplicate pairs via MinHash + LSH, verified with exact SHINGLE-set
    * Jaccard — candidate generation and verification on the SAME metric
    * (the GPT-3/CCNet-style dedup contract), unlike [[minhashNearDups]]'s
    * looser word-set verify. Because the verify stage is exact and banding
    * at the default parameters (128 perms / 32 bands of 4 rows) misses a
    * true pair with probability (1 − t^(perms/bands))^bands ≈ 5e-8 at
    * t = 0.8 (1.5e-15 at 0.9), the result set equals the brute-force
    * all-pairs answer up to that corpus-verified margin — which is exactly
    * how the q24 oracle spells it (exploded shingle equi-join, no LSH).
    * 32 bands (up from 16) buys the equality-oracle headroom: at 16 the
    * miss probability at the 0.8 threshold is ~2e-4, close enough to bite
    * on a regenerated corpus. Defaults keep 4 rows per band: 3-row bands
    * were measured generating ~8x more low-similarity candidates for the
    * exact-verify stage at the same effective recall — candidate count,
    * not signature width, dominates cost. */
  def minhashNearDupsShingle(docs: DataFrame, numPerms: Int = 128,
                             bands: Int = 32, shingleSize: Int = 3,
                             threshold: Double = 0.8): DataFrame = {
    val pairs = lshCandidatePairs(docs, numPerms, bands, shingleSize)
    verifyPairs(pairs, hashedShingleSets(docs, shingleSize), "s", threshold)
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays.
    *
    * NOTE for hot paths: this Column references `array_intersect` twice
    * (numerator and union), and Catalyst re-evaluates it per reference.
    * Corpus-scale pair scoring should use the two-step projection in
    * [[verifyPairs]] which computes the intersection once per pair. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** [[jaccard]] over SORTED DISTINCT long arrays ([[hashedShingleSets]] /
    * hashedTokenSet outputs): merge-walk intersection, no per-row map or
    * intermediate array. The count expression is referenced twice, but a
    * merge walk re-run is far cheaper than one array_intersect. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.HashSets.sortedIntersectCountCol(a, b).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** Verify candidate pairs with exact set Jaccard: join each pair's two
    * SORTED DISTINCT 64-bit hash sets (`sets`: doc_id + `setCol`,
    * [[hashedShingleSets]] / hashedTokenSet outputs) and keep the pairs at
    * `threshold`. The intersection count is a native merge walk
    * ([[graft.functions.SortedIntersectCount]] — no per-pair hash map or
    * result array), materialized once per pair before deriving the ratio
    * (a second projection over cheap int columns). */
  private def verifyPairs(pairs: DataFrame, sets: DataFrame, setCol: String,
                          threshold: Double): DataFrame =
    pairs
      .join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(setCol, "wa"), "doc_a")
      .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(setCol, "wb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.HashSets.sortedIntersectCountCol(col("wa"), col("wb"))
          .cast("double").as("i"),
        (size(col("wa")) + size(col("wb"))).cast("double").as("ab"))
      .select(col("doc_a"), col("doc_b"),
        when(col("ab") - col("i") === 0, lit(1.0))
          .otherwise(col("i") / (col("ab") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Word-set Jaccard over blocked candidate pairs (candidates share ALL
    * blocking-key values — at scale the blocking key choice bounds the pair
    * count).
    *
    * Join-free form: a self-join would tokenize every document twice and
    * shuffle two full copies of the token arrays; instead each block's
    * (doc_id, words) structs are collected once (one tokenization pass, one
    * shuffle of one copy) and the i<j pairs are generated and scored inside
    * a higher-order function, emitting only cheap int triples. Same bounded-
    * block-size assumption as the join variant (a huge block is quadratic
    * under either plan); the struct array sorts on its leading unique doc_id,
    * so pair order (doc_a < doc_b) and the result set are deterministic. */
  def blockedJaccardPairs(docs: DataFrame, blockingKeys: Seq[String],
                          threshold: Double): DataFrame = {
    val words = docs.select(
      (col("doc_id") +: blockingKeys.map(col)) :+
        array_distinct(TextStats.normTokens()).as("w"): _*)
      // equi-join semantics for NULL blocking keys: a null key matches
      // nothing, so such docs pair with nobody. groupBy would instead pool
      // all-null keys into one block — drop them up front to keep the
      // join-free form a drop-in replacement.
      .na.drop(blockingKeys)
    words.groupBy(blockingKeys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("doc_id"), col("w")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)), y ->
          |    struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
          |           cast(size(array_intersect(x.w, y.w)) AS double) AS inter,
          |           cast(size(x.w) + size(y.w) AS double) AS ab))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        when(col("p.ab") - col("p.inter") === 0, lit(1.0))
          .otherwise(col("p.inter") / (col("p.ab") - col("p.inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Collapse near-dup PAIRS into clusters via connected components
    * (DataFrame-native min-label propagation; pairs are typically sparse so
    * the iteration converges fast). Returns (doc_id, cluster_id) for every
    * doc that appears in some pair, with cluster_id = the smallest doc_id
    * in the component (the canonical doc). The result is cache-backed (see
    * [[graft.ops.Caching]]); downstream dedup consumes it once and the
    * session/bench hygiene reclaims it. */
  def clusterPairs(pairs: DataFrame): DataFrame =
    graft.ops.Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .toDF("doc_id", "cluster_id")

  /** Keep one row per cluster — the one whose `idCol` is its cluster's
    * min id — plus every row in no cluster. `clusters` is a two-column
    * (vertex, component) frame such as [[clusterPairs]] or
    * [[graft.ops.Graph.connectedComponents]] returns; its columns are
    * renamed by position. */
  def keepComponentMin(rows: DataFrame, clusters: DataFrame,
                       idCol: String): DataFrame =
    rows.join(clusters.toDF(idCol, "cluster_id"), Seq(idCol), "left")
      .filter(col("cluster_id").isNull || col(idCol) === col("cluster_id"))
      .drop("cluster_id")

  /** The front every end-to-end dedup shares: exact dedup, then the
    * shingle-verified near-dup pairs ([[minhashNearDupsShingle]]) over the
    * survivors, collapsed by [[clusterPairs]]. Returns (exact survivors,
    * (doc_id, cluster_id) clusters). The survivors are a materialized
    * leaf (Caching contract — harness releaseAll reclaims): the eager closure
    * materializes the whole pair chain over them, and the caller's
    * canonical join reads them again. */
  private def exactThenClusters(docs: DataFrame, threshold: Double,
                                numPerms: Int, bands: Int,
                                shingleSize: Int): (DataFrame, DataFrame) = {
    val exact = Caching.materialize(dropExactDups(docs))
    (exact, clusterPairs(
      minhashNearDupsShingle(exact, numPerms, bands, shingleSize, threshold)))
  }

  /** End-to-end corpus dedup: exact dedup, shingle-verified MinHash
    * near-dup pairs, connected-component clustering, keep ONE canonical doc
    * (min doc_id) per cluster — the standard pre-training dedup pipeline,
    * all distributed, and deterministic AND oracle-checkable: exact dedup
    * is a norm-text group, the pair set equals brute-force shingle Jaccard
    * (see minhashNearDupsShingle), and canonical-per-component is min
    * doc_id, so a SQL oracle can replay the whole pipeline (recursive-CTE
    * closure over the brute-force pairs — the q43 oracle does exactly
    * that). */
  def dedupCorpusShingle(docs: DataFrame, threshold: Double = 0.8,
                         numPerms: Int = 128, bands: Int = 32,
                         shingleSize: Int = 3): DataFrame = {
    val (exact, clusters) =
      exactThenClusters(docs, threshold, numPerms, bands, shingleSize)
    keepComponentMin(exact, clusters, "doc_id")
  }

  /** SimHash fingerprint bit width — 60 bits from a 15-hex-char md5 prefix
    * ([[portableTokenHash]]), so the fingerprint itself is an
    * engine-portable, oracle-checkable value (any SQL engine with md5 can
    * recompute it bit-for-bit). */
  val SimhashBits = 60

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed base-16 (always < 2^60, so it fits signed 64-bit on every
    * engine with no sign/overflow edge). md5 costs more per token than
    * xxhash64 — the price of cross-engine reproducibility; for a
    * fingerprint-only pipeline at corpus scale, swapping this single
    * expression for `xxhash64(tok)` is the documented fast path.
    *
    * Spelled as the native [[graft.functions.TokenHash60]] expression:
    * bit-identical to `conv(substring(md5(tok), 1, 15), 16, 10) cast long`
    * (TokenHashSpec pins it), but digests straight to the long inside
    * whole-stage codegen — no 32-char hex string, no substring copy, no
    * base-16 parse per token. Oracles keep the md5 SQL spelling. */
  def portableTokenHash(tok: Column): Column =
    graft.functions.TokenHash.hash60Col(tok)

  /** 60-bit SimHash fingerprint per document: explode tokens once, then 60
    * conditional sums (+1/-1 per bit) in ONE hash aggregate, reassembled into
    * a long. Scales as a single shuffle on doc_id with map-side combine.
    * Uses [[portableTokenHash]], so fingerprints are bit-identical on any
    * engine — the q25 oracle recomputes them in SQL. */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(array_distinct(TextStats.normTokens(col(textCol)))).as("tok"))
      .withColumn("h", portableTokenHash(col("tok")))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"b$j")
    }
    val agg = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until SimhashBits).map { j =>
      when(col(s"b$j") >= 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs within `maxHamming` bit flips, found by
    * bit-band blocking: split the fingerprint into `bands` chunks — two
    * fingerprints within maxHamming < bands bits MUST agree on at least one
    * full band (pigeonhole — this holds even when `bands` doesn't divide
    * [[SimhashBits]] evenly and the tail bits go unblocked; coverage only
    * affects candidate count, never recall), so candidates come from an
    * equi-join on (band, chunk), never a corpus self-join. The final
    * hamming filter is exact, so the result set EQUALS the brute-force
    * all-pairs answer — which is how the q45 oracle spells it. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
                      bands: Int = 4): DataFrame =
    hammingBandPairs(simhash(docs), "simhash", SimhashBits, maxHamming, bands)

  /** Generic Hamming bit-band blocking over ANY integer fingerprint column
    * (SimHash, image dHash, audio energy fingerprint): split `totalBits`
    * into `bands` chunks — two fingerprints within maxHamming < bands bit
    * flips MUST agree on at least one full band (pigeonhole — this holds
    * even when `bands` doesn't divide `totalBits` evenly and the tail bits
    * go unblocked; coverage only affects candidate count, never recall),
    * so candidates come from an equi-join on (band, chunk), never a
    * self-join of the corpus. The final hamming filter is exact, so the
    * result set EQUALS the brute-force all-pairs answer — how every oracle
    * spells it. Input: (idCol, fpCol); output (doc_a, doc_b, hamming) with
    * doc_a < doc_b. */
  def hammingBandPairs(fps: DataFrame, fpCol: String, totalBits: Int,
                       maxHamming: Int, bands: Int,
                       idCol: String = "doc_id"): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    val chunks = fingerprintBandChunks(fps, fpCol, totalBits, bands, idCol)
    chunks.as("x").join(chunks.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.fp").as("fa"), col("y.fp").as("fb"))
      .distinct() // a pair can collide in several bands; dedupe BEFORE scoring
      .select(col("doc_a"), col("doc_b"), hamming(col("fa"), col("fb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The banded-candidate building block of [[hammingBandPairs]], exposed
    * for CROSS-SIDE joins (an incoming micro-batch's fingerprints against
    * a committed index): one row per (id, band) with the band's chunk —
    * two fingerprints within maxHamming < bands flips MUST share at least
    * one (band, chunk) key. Output (doc_id, fp, band, chunk). */
  def fingerprintBandChunks(fps: DataFrame, fpCol: String, totalBits: Int,
                            bands: Int, idCol: String = "doc_id"): DataFrame = {
    val bits = totalBits / bands
    fps.select(col(idCol).as("doc_id"), col(fpCol).as("fp"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col(fpCol), b * bits)
              .bitwiseAND((1L << bits) - 1L).as("chunk"))
        }: _*)).as("bc"))
      .select(col("doc_id"), col("fp"), col("bc.band"), col("bc.chunk"))
  }

  /** Train/eval decontamination: per held-out document, how many of its
    * distinct word `n`-grams also appear anywhere in the training split.
    * The split is the deterministic md5-nibble hash sample
    * ([[graft.ops.Analytics.hashSample]] policy) so it is reproducible
    * across engines and reruns. Shingles are hashed to 64-bit keys before
    * the distinct+join, so the shuffle moves 8-byte longs instead of
    * ~50-byte strings — at 100 TB the train side is billions of distinct
    * shingles and this join is the cost center (sort-merge on the hash;
    * collisions are ~2^-64 per pair and only ever ADD a false positive).
    * Documents shorter than `n` tokens contribute no shingles and drop out,
    * on both engines. */
  def crossSplitContamination(docs: DataFrame, n: Int = 8,
                              evalNibbles: Seq[String] = Seq("0", "1")): DataFrame = {
    require(n >= 2, "overlap n-grams need n >= 2")
    require(evalNibbles.nonEmpty && evalNibbles.forall(_.length == 1),
      "evalNibbles must be single hex characters")
    val base = docs.select(col("doc_id"),
      TextStats.normTokens().as("toks"),
      substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin(evalNibbles: _*).as("is_eval"))
    val sh = windowHashes(base, n, Seq("doc_id", "is_eval"), "i")
    val evalSh = sh.filter(col("is_eval")).select("doc_id", "h").distinct()
    val trainSh = sh.filter(!col("is_eval")).select("h").distinct()
      .withColumn("hit", lit(1))
    evalSh.join(trainSh, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  /** Every `n`-token window of a `toks` token-array column as a 64-bit
    * xxhash64 of its space-joined tokens, one row per window:
    * (keep..., pos, h) with `pos` named `posCol`, the 0-based start.
    * Positional explode ([[TextStats.gramStream]]'s codegen rationale);
    * docs shorter than `n` emit none (filter BEFORE sequence: Spark's
    * sequence(0, -k) counts DOWN, it does not return empty). */
  private def windowHashes(rows: DataFrame, n: Int, keep: Seq[String],
                           posCol: String): DataFrame = {
    val kept = keep.map(col)
    rows.filter(size(col("toks")) >= n)
      .select(kept ++ Seq(col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as(posCol)): _*)
      .select(kept ++ Seq(col(posCol),
        xxhash64(concat_ws(" ", slice(col("toks"), col(posCol) + 1, lit(n))))
          .as("h")): _*)
  }

  /** Boilerplate-prefix census: documents sharing their first `prefixTokens`
    * normalized tokens (mirror pages, templated headers, scraper artifacts
    * — text whose BODY diverges but whose opening is stamped from one
    * mold, which exact dedup misses and MinHash underweights). Groups by
    * the prefix itself; at scale swap the string key for its xxhash64 (same
    * trick as [[crossSplitContamination]]) — kept as the string here so the
    * oracle can spell it. Returns one summary row: duplicate-prefix group
    * count, documents covered by them, and the largest group. */
  def prefixDupStats(docs: DataFrame, prefixTokens: Int = 16): DataFrame = {
    val key = concat_ws(" ",
      slice(TextStats.normTokens(), 1, prefixTokens))
    docs.select(key.as("prefix_key"))
      .groupBy("prefix_key").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("n_dup_groups"),
        coalesce(sum("n"), lit(0L)).as("n_docs_in_groups"),
        coalesce(max("n"), lit(0L)).as("max_group"))
  }

  /** SPAN-level deduplication: remove token spans duplicated ACROSS
    * documents while keeping one canonical copy — the substring-dedup
    * deliverable of "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499), whose suffix-array construction is
    * inherently sequential, re-expressed as a distributed rolling-window
    * census. Doc-level dedup (exact / MinHash / containment) misses the
    * common case of a long quoted passage, license header, or templated
    * block repeated inside otherwise-distinct documents; this operator
    * targets exactly that.
    *
    * Mechanics: slide a `window`-token window (stride 1) over every
    * document's normalized tokens; a window is DUPLICATED when at least
    * `minDocs` DISTINCT documents contain it (intra-document repeats alone
    * do not qualify — that is [[graft.text.TextStats]]'s repetition-ratio
    * territory). Keep-one-copy policy: per duplicated window, the document
    * with the SMALLEST doc_id containing it is the keeper; every other
    * document removes the token positions covered by the union of its
    * non-keeper duplicated windows and reassembles the survivors in order.
    * Overlapping windows merge naturally through the position-set union, so
    * a duplicated passage of any length L >= window is removed wholesale
    * (its L - window + 1 constituent windows all qualify).
    *
    * Scale shape: one token pass emits ~n_tokens windows per doc, each
    * hashed to a 64-bit key ([[crossSplitContamination]]'s trick — the df
    * census shuffles 8-byte longs, never window strings; collisions ~2^-64
    * per pair can only ever merge two windows, same contract as the gram
    * joins). Everything downstream is linear joins/aggregations on
    * (doc_id, position) — no self-join, no all-pairs stage, no driver
    * state; the census is the same shape as the corpus-novelty gram pass.
    * Returns one row per input document: (doc_id, n_tokens, n_dup_windows,
    * n_removed_tokens, clean_text) — clean_text is the normalized
    * reassembly (the normalize-then-split round trip is the same canonical
    * form every other text operator works in). */
  def spanDedup(docs: DataFrame, window: Int = 10, minDocs: Int = 2): DataFrame = {
    require(window >= 2, "a duplicated span needs window >= 2 tokens")
    require(minDocs >= 2, "cross-document duplication needs minDocs >= 2")
    val t = docs.select(col("doc_id"),
      TextStats.normTokens().as("toks"))
    val w = windowHashes(t, window, Seq("doc_id"), "pos")
    val census = w.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"), min(col("doc_id")).as("keeper"))
      .filter(col("df") >= minDocs)
    val dupw = w.join(census, Seq("h"))
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id", "pos")
    val cov = dupw
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (window - 1))).as("i"))
      .distinct()
    val tp = t.select(col("doc_id"), posexplode(col("toks")).as(Seq("i", "tok")))
    val clean = tp.join(cov, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("i"), col("tok")))), x => x("tok")), " ")
        .as("clean_text"))
    val nDup = dupw.groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    val nCov = cov.groupBy("doc_id").agg(count(lit(1)).as("n_removed_tokens"))
    t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(nDup, Seq("doc_id"), "left")
      .join(nCov, Seq("doc_id"), "left")
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_removed_tokens"), lit(0L)).as("n_removed_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** [[dedupCorpusShingle]] with a QUALITY-AWARE canonical: instead of
    * keeping the min-doc_id per near-dup cluster, keep the member a
    * curation pipeline actually wants — ordered by (passes_filter DESC,
    * n_tokens DESC, doc_id ASC), i.e. prefer a doc that clears the basic
    * quality gate, then the longest, then the smallest id. The ordering key
    * is INTEGER-valued on purpose: a float composite score would make the
    * argmax engine-sensitive at ties; long comparisons replay exactly
    * everywhere. (The exact-dup stage needs no such policy — docs with
    * identical normalized text have identical token stats, so min doc_id
    * IS the quality argmax there.)
    *
    * Same scale shape as [[dedupCorpusShingle]]: banded LSH candidates +
    * exact shingle verify, min-label-propagation components, then ONE
    * row_number window partitioned by cluster — no new shuffle beyond the
    * feature join. Returns the kept docs as (doc_id, cluster_id,
    * cluster_size); singletons keep themselves with cluster_size 1. */
  def dedupCorpusKeepBest(docs: DataFrame, threshold: Double = 0.8,
                          numPerms: Int = 128, bands: Int = 32,
                          shingleSize: Int = 3): DataFrame = {
    val (exact, clusters) =
      exactThenClusters(docs, threshold, numPerms, bands, shingleSize)
    val toks = TextStats.normTokens()
    val feats = exact.select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      when(size(toks) >= 20 &&
        size(array_distinct(toks)).cast("double") / size(toks).cast("double") >= 0.2,
        lit(1L)).otherwise(lit(0L)).as("passes"))
    val member = feats.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("n_tokens"), col("passes"))
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    member
      .withColumn("rn", row_number().over(win.orderBy(
        col("passes").desc, col("n_tokens").desc, col("doc_id"))))
      .withColumn("cluster_size", count(lit(1)).over(win))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Leakage-free train/val/test split: assign whole NEAR-DUP CLUSTERS to
    * splits, never individual documents — the split hygiene a training
    * pipeline needs so that a val/test document's near-duplicate cannot sit
    * in train (hash-splitting doc_ids, the naive approach, leaks exactly
    * this way; arXiv:2107.06499 §6.2 measures the effect). Every input doc
    * maps to its exact-dedup keeper (min doc_id per normalized text), the
    * keepers form near-dup clusters via the shingle-verified pair closure,
    * and the CLUSTER id is hashed to a split with the deterministic
    * md5-first-nibble policy ([[crossSplitContamination]]'s sampler): nibble
    * in `valNibbles` -> "val", in `testNibbles` -> "test", else "train"
    * (defaults: 1/16 val, 1/16 test, 14/16 train). By construction an
    * exact- or near-dup pair always shares a cluster_id, hence a split.
    *
    * Scale shape: the pair/closure machinery of [[dedupCorpusShingle]] plus
    * two broadcast-sized maps (norm -> keeper rides the existing exact-dup
    * shuffle; keeper -> cluster is the component output); the split itself
    * is a pure map expression. One row per INPUT doc: (doc_id, cluster_id,
    * split). */
  def clusterSplit(docs: DataFrame, threshold: Double = 0.8,
                   numPerms: Int = 128, bands: Int = 32, shingleSize: Int = 3,
                   valNibbles: Seq[String] = Seq("0"),
                   testNibbles: Seq[String] = Seq("1")): DataFrame = {
    require(valNibbles.intersect(testNibbles).isEmpty,
      "a nibble cannot map to both val and test")
    require((valNibbles ++ testNibbles).forall(n => n.length == 1),
      "split nibbles must be single hex characters")
    val nrm = docs.select(col("doc_id"), TextStats.normalize(col("text")).as("norm"))
    val keepers = nrm.groupBy("norm").agg(min(col("doc_id")).as("keeper"))
    val docmap = nrm.join(keepers, Seq("norm")).select(col("doc_id"), col("keeper"))
    val clusters =
      exactThenClusters(docs, threshold, numPerms, bands, shingleSize)._2
        .withColumnRenamed("doc_id", "keeper")
    val nib = substring(md5(col("cluster_id").cast("string")), 1, 1)
    docmap.join(clusters, Seq("keeper"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("keeper")).as("cluster_id"))
      .withColumn("split",
        when(nib.isin(valNibbles.map(_.asInstanceOf[Any]): _*), lit("val"))
          .when(nib.isin(testNibbles.map(_.asInstanceOf[Any]): _*), lit("test"))
          .otherwise(lit("train")))
  }

  /** SPLIT LEAKAGE AUDIT — the independent verification of
    * [[clusterSplit]]'s by-construction claim, plus the number the claim
    * does NOT cover: for every unordered boundary between splits present
    * in the data, report
    *
    *   - `n_straddling_dups`: near-duplicate pairs (shingle Jaccard >=
    *     `threshold`, RECOMPUTED from scratch over the full input through
    *     the banded + exact-verify q24 chain — not read back from the
    *     split's own cluster graph) whose endpoints landed in different
    *     splits. Zero is the theorem being audited; a nonzero here means
    *     the split and the dedup disagree about the corpus.
    *   - `max_cross_jaccard`: the WORST remaining near-leak — the highest
    *     rare-gram Jaccard over any cross-boundary pair (eval-set hygiene
    *     is a spectrum; this is its sup). Grams with document frequency
    *     above `maxDf` are pruned first (hub grams carry no leak signal
    *     and would quadratically blow up the pair stage — the q182
    *     containment bound), so the metric is Jaccard over the RARE-GRAM
    *     space, computed in the 64-bit hash domain (the q182/q185 count
    *     contract). NOTE: because the denominator shrinks with the prune,
    *     this value is UNCAPPED relative to the dedup threshold — a pair
    *     sharing all its rare grams but diluted by hub grams can score
    *     above `threshold` here while its full shingle Jaccard stays
    *     below it; that is the signal (a near-leak the dedup metric
    *     structurally discounts), not a contradiction.
    *
    * Scale shape: the straddle side reuses the banded near-dup chain
    * (candidates bounded by band collisions); the max-J side is the
    * df-pruned gram equi-join (pairs bounded by Σ df² over rare grams);
    * the boundary scaffold is a |splits|² cross join (≤ 9 rows). */
  def splitLeakageAudit(docs: DataFrame, threshold: Double = 0.8,
                        numPerms: Int = 128, bands: Int = 32,
                        shingleSize: Int = 3,
                        maxDf: Long = 1000): DataFrame = Caching.scoped { scope =>
    // split assignments feed the straddle join, the gram join, and the
    // scaffold; grams feed the DF prune and both gram-join sides (scoped
    // interims, Caching contract); the split-pair result is materialized
    val split = scope.materialize(clusterSplit(docs, threshold, numPerms, bands,
      shingleSize).select(col("doc_id"), col("split")))
    val boundary = Seq(
      least(col("sa"), col("sb")).as("split_a"),
      greatest(col("sa"), col("sb")).as("split_b"))
    val straddle = minhashNearDupsShingle(docs, numPerms, bands,
        shingleSize, threshold)
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb"))
      .select(boundary: _*)
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_dups"))
    val kept = keptGrams(scope.materialize(docGrams(docs, shingleSize)), maxDf)
    val sz = gramSetSizes(kept)
    val withSplit = kept.join(split, "doc_id")
    val maxJ = withSplit
      .select(col("doc_id").as("doc_a"), col("g"), col("split").as("sa"))
      .join(withSplit.select(col("doc_id").as("doc_b"), col("g"),
        col("split").as("sb")), Seq("g"))
      .filter(col("doc_a") < col("doc_b") && col("sa") =!= col("sb"))
      .groupBy("doc_a", "doc_b", "sa", "sb").agg(count(lit(1)).as("ns"))
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .select((boundary :+
        (col("ns").cast("double") /
          (col("sza") + col("szb") - col("ns")).cast("double")).as("j")): _*)
      .groupBy("split_a", "split_b")
      .agg(round(max(col("j")), 6).as("max_cross_jaccard"))
    val names = split.select("split").distinct()
    Caching.materialize(names.select(col("split").as("sa"))
      .crossJoin(names.select(col("split").as("sb")))
      .filter(col("sa") < col("sb"))
      .select(col("sa").as("split_a"), col("sb").as("split_b"))
      .join(straddle, Seq("split_a", "split_b"), "left")
      .join(maxJ, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_dups"), lit(0L)).as("n_straddling_dups"),
        coalesce(col("max_cross_jaccard"), lit(0.0)).as("max_cross_jaccard")))
  }

  /** WHY was this pair flagged — audit-trail evidence for near-dup
    * pairs: per pair, the `topK` RAREST shared shingles (lowest corpus
    * document frequency = the most distinctive shared text; frequency
    * ties break on the gram string, so the report is deterministic).
    * Curation reviews, takedown disputes, and dedup-threshold tuning
    * need the evidence, not just the verdict — a pair flagged on
    * boilerplate shingles (high df) reads very differently from one
    * sharing a rare verbatim passage (df 2). Scale shape: the gram
    * stream explodes once (distinct per doc), the document-frequency
    * aggregate is |vocabulary|-grain, and the evidence join is
    * pair-grain × per-doc grams — bounded by the (already banded) pair
    * set, never corpus². */
  def explainNearDups(docs: DataFrame, pairs: DataFrame,
                      shingleSize: Int = 3,
                      topK: Int = 5): DataFrame = Caching.scoped { scope =>
    // the distinct gram stream feeds the df aggregate AND both pair sides
    // (a scoped interim, the Caching contract); the evidence is materialized
    val e = scope.materialize(
      graft.text.TextStats.gramStream(docs, shingleSize).distinct())
    val dfreq = e.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("gram_df"))
    Caching.materialize(pairs.select("doc_a", "doc_b")
      .join(e.select(col("doc_id").as("doc_a"), col("gram")), Seq("doc_a"))
      .join(e.select(col("doc_id").as("doc_b"), col("gram")),
        Seq("doc_b", "gram"))
      .join(dfreq, Seq("gram"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_a", "doc_b")
          .orderBy(col("gram_df"), col("gram"))))
      .filter(col("rn") <= topK)
      .select(col("doc_a"), col("doc_b"), col("gram"), col("gram_df"),
        col("rn")))
  }
}
