package graft.text

import graft.ops.Caching.{materialize, stage}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed batch corpus pipeline — raw documents in, training chunks
  * out — wiring the library's pieces in their canonical order:
  *
  *   1. quality gate ([[TextStats.qualityScore]]'s filter predicate)
  *   2. exact + near-duplicate removal ([[Dedup.dedupCorpusShingle]])
  *   3. per-source cap ([[TextFeatures.perSourceCap]], reproducible sample)
  *   4. fixed-window chunking with stride ([[TextFeatures.chunkPlan]])
  *
  * Each stage hands its survivors to the next as a flat cached leaf
  * ([[graft.ops.Caching.materialize]]; [[graft.ops.Caching.stage]] for the
  * gate), so every plan covers one stage.
  * Within a stage Catalyst plans freely: the gate's predicate runs inside
  * the scan projection, dedup shuffles 64-bit keys only, the cap moves at
  * most `maxDocsPerSource` rows per source through its exchange, and
  * chunking adds no shuffle at all. Order matters at scale: gate before dedup
  * (cheap map first shrinks the shuffle), dedup before the cap (so kept
  * slots aren't wasted on duplicates), chunking last.
  */
object Refinery {

  final case class Config(
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.2,
      nearDupThreshold: Double = 0.8,
      maxDocsPerSource: Int = 1000000,
      chunk: Int = 128,
      stride: Int = 96,
      // MinHash signature size for the shingle-verified near-dup stage
      // (Dedup.dedupCorpusShingle — deterministic AND oracle-replayable:
      // q169 verifies the end-to-end pipeline against a declarative SQL
      // respell). 128/32 is the high-recall default; 32/16 (the q196
      // streaming-twin setting, per-pair candidate-miss ~8e-8 at s = 0.8)
      // quarters the signature cost for budgeted composed configs — the
      // exact-verify step means precision is unaffected either way
      dedupNumPerms: Int = 128,
      dedupBands: Int = 32,
      // which quality gate fronts the pipeline: "basic" = the length/
      // distinct-ratio screen; "gopher" = the full MassiveText rule bundle
      // (TextStats.passesGopherGate — q179's production filter suite
      // actually gating the E2E pipeline)
      gate: String = "basic",
      gopherMinWords: Long = 50,
      gopherMaxWords: Long = 100000,
      gopherMinStopWords: Long = 2,
      // opt-in containment stage AFTER near-dup: drops documents embedded
      // in other kept documents (the quote/snippet case symmetric Jaccard
      // structurally misses — Dedup.dropContained, banded candidates +
      // exact verify)
      containment: Boolean = false,
      containmentThreshold: Double = 0.8,
      containmentMaxDf: Long = 1000,
      // opt-in CCNet LM stage AFTER the gate: train a Stupid-Backoff
      // bigram LM on the trusted slice (a SQL predicate over the gated
      // docs) and drop the tail `lmTailPermille` of the SCORED pool by
      // avg negative log-likelihood (LangModel.perplexityBuckets). The
      // trusted slice itself and <2-token docs are unscored and pass —
      // CCNet's contract: the filter prunes disfluent WEB text, it never
      // second-guesses the in-domain data
      lmFilter: Option[LmFilter] = None,
      // opt-in learned-classifier stage beside the LM filter (the GPT-3 /
      // CCNet discriminative web filter — QualityClassifier): train hashed
      // bag-of-ngrams Naive Bayes on trusted-vs-pool labels over the gated
      // docs, drop non-trusted docs whose per-gram log-odds average falls
      // below the threshold. Trusted docs and unscored (zero-token) docs
      // pass — the same never-second-guess-in-domain contract as lmFilter
      classifierFilter: Option[NbFilter] = None)

  /** CCNet LM-stage parameters: `trainPredicateSql` selects the trusted
    * in-domain slice (e.g. "lang = 'en'"), `tailPermille` the scored-pool
    * fraction to drop, worst-first. */
  final case class LmFilter(trainPredicateSql: String,
                            tailPermille: Int = 300)

  /** Classifier-stage parameters: `posPredicateSql`/`negPredicateSql`
    * label the trusted and pool slices (disjoint SQL predicates over the
    * gated docs); documents outside the trusted slice must score
    * avg log-odds >= `minAvgMicronats` (micronats per gram, 0 = "more
    * reference-like than pool-like") to survive. */
  final case class NbFilter(posPredicateSql: String, negPredicateSql: String,
                            minAvgMicronats: Long = 0L,
                            numBuckets: Int = 1 << 18)

  /** Quality gate as a standalone predicate-pushable filter — the shared
    * [[TextStats.passesQualityGate]] screen, or the full Gopher rule bundle
    * ([[TextStats.passesGopherGate]]) under `cfg.gate = "gopher"`. Either
    * way one pure scan-side predicate. */
  def gate(docs: DataFrame, cfg: Config): DataFrame = cfg.gate match {
    case "gopher" =>
      docs.filter(TextStats.passesGopherGate(cfg.gopherMinWords,
        cfg.gopherMaxWords, cfg.gopherMinStopWords))
    case "basic" =>
      docs.filter(TextStats.passesQualityGate(cfg.minTokens, cfg.minDistinctRatio))
    case other =>
      throw new IllegalArgumentException(s"unknown gate '$other' (basic|gopher)")
  }

  /** Full refinery: returns the chunk plan (doc_id, n_tokens, chunk_idx,
    * start_tok, chunk_len) over the gated, deduped (exact + near-dup +
    * optional containment), capped corpus. */
  def refine(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    // flat cached leaves (Caching contract, harnesses releaseAll): the
    // gated docs feed every dedup corpus pass, the near-dup survivors feed
    // containment and the cap/chunk tail — uncached, the LSH/closure
    // pipeline re-runs per branch (48 s → ~15 s for the containment
    // refinery at sf0.1). The gate is a narrow filter, so its leaf fills
    // in its first consumer's job; every later stage is materialized
    val gated = stage(gate(docs, cfg))
    // CCNet LM stage between gate and dedup (arXiv:1911.00359's order —
    // perplexity is a per-doc fluency signal, so it runs before the
    // corpus-level stages): drop the scored pool's tail tier, pass the
    // trusted slice and unscored (<2-token) docs through
    val lmKept = cfg.lmFilter match {
      case Some(f) =>
        val tail = LangModel.perplexityBuckets(gated,
            expr(f.trainPredicateSql), headPermille = 0,
            tailPermille = f.tailPermille)
          .filter(col("bucket") === "tail").select("doc_id")
        materialize(gated.join(tail, Seq("doc_id"), "left_anti"))
      case None => gated
    }
    // learned-classifier stage beside the LM filter (same slot, same
    // contract): non-trusted docs below the log-odds threshold drop;
    // unscored (zero-token) docs are absent from the score table and pass
    val clfKept = cfg.classifierFilter match {
      case Some(f) =>
        val low = QualityClassifier.classifierScore(lmKept,
            expr(f.posPredicateSql), expr(f.negPredicateSql), f.numBuckets)
          .filter(col("avg_micronats") < f.minAvgMicronats)
          .select("doc_id")
        // "outside the trusted slice" must treat a NULL predicate result
        // as untrusted: !(NULL) is NULL and would silently exempt e.g. a
        // NULL-lang doc from the floor the stream NbGate applies to it
        val bad = lmKept.filter(!coalesce(expr(f.posPredicateSql), lit(false)))
          .join(low, Seq("doc_id"), "left_semi").select("doc_id")
        materialize(lmKept.join(bad, Seq("doc_id"), "left_anti"))
      case None => lmKept
    }
    val deduped = materialize(Dedup.dedupCorpusShingle(clfKept,
      cfg.nearDupThreshold, cfg.dedupNumPerms, cfg.dedupBands))
    // containment AFTER near-dup: Jaccard clusters collapse the mutual
    // near-copies first, then the directional stage drops embedded quotes
    // the symmetric metric missed — each stage sees only prior survivors
    val contained =
      if (cfg.containment)
        Dedup.dropContained(deduped, threshold = cfg.containmentThreshold,
          maxDf = cfg.containmentMaxDf)
      else deduped
    val capped = contained.join(
      TextFeatures.perSourceCap(contained, cfg.maxDocsPerSource).select("doc_id"),
      Seq("doc_id"), "left_semi")
    TextFeatures.chunkPlan(capped, cfg.chunk, cfg.stride)
  }

  /** Per-source corpus report card — the text-pipeline sibling of the
    * warehouse reporting summary (q161): one governance row per source with
    * volume (docs, tokens, exact-median length), hygiene (exact-duplicate
    * count, quality-gate pass rate) and language mix (distinct langs, the
    * dominant one — argmax with a deterministic tie to the smaller code).
    * One doc-grain projection, two source-grain aggregates, one broadcast
    * join; publish via `LakeTable.write` + CHECK constraints for the
    * governed artifact (q168 does). */
  def corpusReportCard(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("source"), col("lang"), TextStats.normalize(col("text")).as("norm"))
      .select(col("source"), col("lang"), col("norm"),
        TextStats.tokensN(col("norm")).as("toks"))
      .select(col("source"), col("lang"), col("norm"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double")).as("distinct_ratio"))
    val main = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      (count(lit(1)) - countDistinct(col("norm"))).as("n_exact_dups"),
      sum("n_tokens").as("total_tokens"),
      expr("percentile(n_tokens, 0.5)").as("p50_tokens"),
      round(sum(when(col("n_tokens") >= 20 && col("distinct_ratio") >= 0.2, 1L)
        .otherwise(0L)).cast("double") / count(lit(1)).cast("double"), 6)
        .as("pass_rate"))
    val langs = docs.groupBy("source", "lang").agg(count(lit(1)).as("nl"))
      .groupBy("source").agg(
        count(lit(1)).as("n_langs"),
        min(struct((-col("nl")).as("neg"), col("lang")))
          .getField("lang").as("top_lang"))
    main.join(broadcast(langs), "source")
  }
}
