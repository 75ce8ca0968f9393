package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators over token n-gram sets — the two standard
  * pretraining-pipeline gates the dedup family doesn't cover:
  *
  *  - benchmark DECONTAMINATION (GPT-3 appendix C / FLAN style): flag and
  *    drop training documents that share any token n-gram with an
  *    evaluation/benchmark set, so downstream eval numbers aren't inflated
  *    by memorized test data;
  *  - corpus-frequent BOILERPLATE detection (C4/CCNet "most common
  *    paragraphs" adapted to n-grams): find n-grams that recur across an
  *    anomalous number of documents (headers, footers, navigation chrome,
  *    license blurbs) and score each document by how much of it is
  *    boilerplate.
  *
  * Scale shape (the reason these are separate from a naive join):
  *
  *  - The benchmark side is SMALL by construction (eval sets are MBs, the
  *    corpus is TBs), so its distinct n-gram hashes broadcast and the
  *    corpus side is contamination-checked in a map-only pass — the only
  *    shuffle in [[contaminationReport]] is the final map-side-combined
  *    per-document aggregate of (doc_id, two longs).
  *  - N-grams are compared as 64-bit `xxhash64` keys, never as strings: the
  *    corpus side hashes each n-gram once and all joins/aggregates move
  *    8-byte longs (the [[Dedup.exactKey]] rule — at 100 TB you do not
  *    shuffle text to compare it). Cross-set hash collisions flag a clean
  *    document with probability |bench|·|corpus grams| / 2^64 — negligible
  *    against the false-negative rate of n-gram matching itself.
  *  - Boilerplate doc-frequency is one map-side-combined count keyed by the
  *    n-gram hash; the surviving frequent set is tiny for any sane
  *    `minDocs` (that is what makes it boilerplate) and broadcasts back.
  */
object Decontam {

  /** Distinct hashed token `n`-grams per document, exploded to
    * (doc_id, g: long) rows. Shorter-than-`n` documents contribute their
    * whole token sequence as one gram ([[TextStats.shinglesOf]] contract,
    * same spelling the DuckDB oracles use). */
  private def ngramHashes(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        TextStats.normTokens().as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextStats.shinglesOf(col("toks"), n))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("g"))

  /** Per-training-document contamination report against a benchmark set:
    * (doc_id, n_ngrams, n_contaminated, contamination_ratio,
    * is_contaminated). `n_contaminated` counts the document's DISTINCT
    * n-grams that also occur anywhere in `bench`; one shared n-gram flags
    * the document (the GPT-3 contract — overlap length is evidence, not a
    * threshold). One corpus scan, benchmark grams broadcast. */
  def contaminationReport(train: DataFrame, bench: DataFrame, n: Int = 8): DataFrame =
    ngramHashes(train, n)
      .join(broadcast(ngramHashes(bench, n).select("g").distinct()
        .withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("doc_id"), col("n_ngrams"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_ngrams").cast("double"))
          .as("contamination_ratio"),
        (col("n_contaminated") > 0).as("is_contaminated"))

  /** Decontaminated training set: every document sharing at least one
    * `n`-gram with `bench` dropped, all columns preserved. Two passes over
    * `train` (flag, then anti-join) — the flag pass emits only doc ids, so
    * nothing document-sized is shuffled twice. */
  def decontaminate(train: DataFrame, bench: DataFrame, n: Int = 8): DataFrame =
    train.join(
      contaminationReport(train, bench, n)
        .filter(col("is_contaminated")).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Corpus-frequent n-grams: every `n`-gram occurring in at least
    * `minDocs` DISTINCT documents, with its document frequency —
    * (ngram, n_docs). This is the reporting variant, so it keys by the
    * n-gram STRING (map-side combine still bounds the shuffle at
    * distinct-n-gram cardinality); pipelines that only need the ratio use
    * [[boilerplateRatio]], which stays on hashes end to end. Choose
    * `minDocs` as a fraction of corpus size (0.5–1%) at scale — absolute
    * here so the oracle and the operator share one integer contract. */
  def boilerplateNgrams(docs: DataFrame, n: Int = 3, minDocs: Long = 25): DataFrame =
    docs.select(col("doc_id"),
        TextStats.normTokens().as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextStats.shinglesOf(col("toks"), n))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document boilerplate score: (doc_id, n_ngrams, n_boiler,
    * boiler_ratio) where `n_boiler` counts the document's distinct n-grams
    * that are corpus-frequent (≥ `minDocs` documents). Two corpus scans —
    * the doc-frequency pass reduces to (hash, count) map-side, the scoring
    * pass joins the broadcast frequent set — the classic count-then-
    * broadcast-back shape; a quality gate then drops documents above a
    * ratio threshold. */
  def boilerplateRatio(docs: DataFrame, n: Int = 3, minDocs: Long = 25): DataFrame = {
    val grams = ngramHashes(docs, n)
    val boiler = grams.groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("g"), lit(1L).as("hit"))
    grams.join(broadcast(boiler), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_boiler"))
      .select(col("doc_id"), col("n_ngrams"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_ngrams").cast("double"))
          .as("boiler_ratio"))
  }
}
