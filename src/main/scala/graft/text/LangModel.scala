package graft.text

import graft.ops.Caching
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style word-level language-model quality scoring (Wenzek et al.,
  * arXiv:1911.00359): train an n-gram LM on a trusted in-domain slice
  * (CCNet uses Wikipedia; here any `isTrain` predicate over the corpus),
  * score every OTHER document by its average negative log-likelihood under
  * that model, and split the scored pool into head / middle / tail quality
  * tiers — the classic "keep the fluent third" pre-training filter.
  *
  * The model is a Stupid-Backoff bigram LM (Brants et al. 2007, "Large
  * Language Models in Machine Translation"): no normalization pass, just
  *   S(w2|w1) = c(w1 w2) / c(w1)                  when the bigram was seen,
  *            = 0.4 * (c(w2)+1) / (N+V)           backoff to the smoothed
  *                                                unigram otherwise,
  * which is exactly the score family built for corpus-scale counting —
  * the model IS two count tables, trainable in one aggregation pass.
  *
  * Engine-portable and EXACT (the q165/q190 integer discipline): every
  * log-probability is quantized ONCE to integer micronats (ln formed on
  * identical IEEE doubles in any engine, products formed in doubles so
  * trillion-token counts cannot wrap int64), and a document's score is then
  * an exact long SUM of micronats — order-independent, hash-replayable in
  * SQL. Tokens are keyed by the md5-based [[Dedup.portableTokenHash]] so
  * the count tables join on 64-bit longs, not strings, on any engine.
  *
  * Scale shape: ONE tokenize pass over the corpus (a scoped interim of
  * the [[graft.ops.Caching]] contract; the returned score table is
  * materialized and the caller releases it with
  * [[graft.ops.Caching.release]]); the bigram/unigram model
  * tables are bounded by the TRAIN slice's
  * vocabulary and join the scoring stream as ordinary shuffled equi-joins
  * on 64-bit keys (nothing document-sized is broadcast); the (N, V) totals
  * collapse to driver-side literals via one bounded aggregate head — the
  * same job that fail-fasts on a degenerate train slice.
  */
object LangModel {

  /** Stupid-Backoff discount (Brants et al. 2007 §5.1's alpha). */
  private val Alpha = 0.4

  /** Per-doc adjacent (w1h, w2h) hashed bigram events via the positional
    * explode ([[TextStats.gramStream]]'s codegen rationale); docs with <2
    * tokens emit none. `carryCols` ride every projection between `doc_id`
    * and the tokens (gramStream's carryCols) — lmScore carries its train
    * flag so one persisted stream feeds both the fit and the serve.
    *
    * The token array is hashed ONCE (r16: was per EVENT SIDE — every
    * interior token paid md5 twice; BenchProbe `lmhash` measured −35%) and,
    * since r17, through the NATIVE [[graft.functions.TokenHashes]]
    * expression instead of a higher-order `transform`: the r16 HOF lambda
    * ran interpreted and dropped the Project out of whole-stage codegen
    * (plans/r16, `* Project` → `Project`); the native expression digests
    * token bytes straight to longs inside generated code, restoring the
    * `* Project` span (plans/r17) at the same single-hash count. Hash
    * VALUES are identical to the md5 spelling (TokenHashSpec pins it), so
    * model tables, scores, and every oracle replay are unchanged. */
  private def pairedEvents(docs: DataFrame,
                           carryCols: Seq[String] = Nil): DataFrame = {
    val id = col("doc_id") +: carryCols.map(col)
    // the <2-token filter runs on the UN-hashed token array: filtering on
    // size(hs) pushes the whole hashing transform into the Filter node and
    // every doc pays the md5 pass twice (plan-checked in plans/r16)
    docs.select(id :+ TextStats.normTokens().as("toks"): _*)
      .where(size(col("toks")) >= 2)
      .select(id :+
        graft.functions.TokenHash.hashAllCol(col("toks")).as("hs"): _*)
      .select(id ++ Seq(col("hs"),
        explode(sequence(lit(0), size(col("hs")) - 2)).as("i")): _*)
      .select(id ++ Seq(
        element_at(col("hs"), col("i") + 1).as("w1h"),
        element_at(col("hs"), col("i") + 2).as("w2h")): _*)
  }

  /** A trained Stupid-Backoff bigram LM as DATA: the bigram and unigram
    * log-prob tables (integer micronats) plus the unknown-token default —
    * the deployable form of [[lmScore]]'s model, persistable to a lake
    * table and servable against any stream or batch without retraining.
    * Both tables are bounded by the TRAIN slice's vocabulary. */
  final case class LmModel(bigram: DataFrame, unigram: DataFrame,
                           unkMicronats: Long)

  /** The fit: both count tables from a bigram event stream. Bigram counts
    * c(w1 w2) and LEFT-context counts c(w1) come from the same stream (so
    * the conditional S(w2|w1) = c2/c1 is a true probability over observed
    * contexts; the final token of each doc never opens a context, matching
    * the event stream being scored). The unigram backoff runs over RIGHT
    * tokens (the predicted position), Laplace-smoothed so unseen words keep
    * a finite score. ONE bounded totals job serves both the degenerate-
    * input fail-fast (an empty train slice must throw, not silently NULL
    * every score) and the (N, V) scalar, which then rides the backoff
    * expressions as a literal — serving needs no scalar join. */
  private def fitLm(events: DataFrame, caller: String): LmModel = {
    val c2 = events.groupBy("w1h", "w2h").agg(count(lit(1)).as("c2"))
    val c1 = events.groupBy("w1h").agg(count(lit(1)).as("c1"))
    val bigram = c2.join(c1, "w1h")
      .select(col("w1h"), col("w2h"), TextStats.micronats(
        col("c2").cast("double") / col("c1").cast("double")).as("lp2"))
    val cu = events.groupBy(col("w2h").as("wh")).agg(count(lit(1)).as("cu"))
    val totRow = cu
      .agg(coalesce(sum("cu"), lit(0L)), count(lit(1))).head()
    val (nn, vv) = (totRow.getLong(0), totRow.getLong(1))
    require(nn > 0L,
      s"$caller: the isTrain slice produced no bigram events " +
        "(empty slice, or every training doc has < 2 tokens)")
    val nv = (nn + vv).toDouble
    val unigram = cu.select(col("wh"),
      TextStats.micronats(lit(Alpha) * (col("cu") + lit(1L)).cast("double") /
        lit(nv)).as("lp_bo"))
    LmModel(bigram, unigram, TextStats.lnMicronats(Alpha / nv))
  }

  /** The serve: bigram lookup, unigram backoff, unknown default, exact
    * long sums over a bigram event stream. */
  private def serveLm(model: LmModel, events: DataFrame): DataFrame =
    events
      .join(model.bigram, Seq("w1h", "w2h"), "left")
      .join(model.unigram.withColumnRenamed("wh", "w2h"), Seq("w2h"), "left")
      .select(col("doc_id"),
        coalesce(col("lp2"), col("lp_bo"), lit(model.unkMicronats)).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("lp"))).as("nll_micronats"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micronats"),
        floor(col("nll_micronats").cast("double") /
          col("n_bigrams").cast("double") + lit(0.5)).cast("long")
          .as("avg_nll_micronats"))

  /** Train the model on the rows matching `isTrain` — [[lmScore]]'s fit
    * over the train slice alone. */
  def trainLm(docs: DataFrame, isTrain: Column): LmModel =
    fitLm(pairedEvents(docs.filter(isTrain)), "trainLm")

  /** Score documents against a (possibly lake-loaded) model: the serving
    * path — no training-side state beyond the two model tables. Returns the
    * same schema as [[lmScore]]. */
  def scoreWithLm(model: LmModel, docs: DataFrame): DataFrame =
    serveLm(model, pairedEvents(docs))

  /** Persist a model into the lake as three versioned tables
    * (`{prefix}_lm_bigram`, `{prefix}_lm_unigram`, `{prefix}_lm_meta`) —
    * the LM sibling of the ANN index save/load lifecycle. */
  def saveLm(lake: graft.tables.LakeTable, prefix: String,
             model: LmModel): Unit = {
    lake.write(model.bigram, s"${prefix}_lm_bigram", "overwrite"): Unit
    lake.write(model.unigram, s"${prefix}_lm_unigram", "overwrite"): Unit
    val spark = model.bigram.sparkSession
    import spark.implicits._
    lake.write(Seq(model.unkMicronats).toDF("unk_micronats"),
      s"${prefix}_lm_meta", "overwrite"): Unit
  }

  /** Load a persisted model; the 1-row meta read is the only collect. */
  def loadLm(lake: graft.tables.LakeTable, prefix: String): LmModel =
    LmModel(
      lake.read(s"${prefix}_lm_bigram"),
      lake.read(s"${prefix}_lm_unigram"),
      lake.read(s"${prefix}_lm_meta").head().getLong(0))

  /** Score every non-train document under the bigram LM trained on the
    * `isTrain` slice. Returns one row per scored document that has at least
    * one bigram (docs with <2 tokens have no bigram events and drop out):
    * (doc_id, n_bigrams, nll_micronats, avg_nll_micronats) where
    * nll_micronats = −Σ log-prob in integer micronats (exact long sum) and
    * avg_nll_micronats = round(nll/n) (one double division on exactly
    * representable longs — identical in any IEEE engine). Lower = more
    * fluent under the trusted slice's language model.
    *
    * One tokenize pass: the event stream carries the train flag and is a
    * scoped interim, then [[trainLm]]'s fit reads its train rows and
    * [[scoreWithLm]]'s serve its other rows. The score table is
    * materialized; the caller releases it. */
  def lmScore(docs: DataFrame, isTrain: Column): DataFrame = Caching.scoped { scope =>
    val paired = scope.materialize(pairedEvents(
      docs.select(col("doc_id"), col("text"), isTrain.as("is_train")),
      Seq("is_train")))
    Caching.materialize(serveLm(fitLm(paired.filter(col("is_train")), "lmScore"),
      paired.filter(!col("is_train"))))
  }

  /** CCNet's head/middle/tail split composed on [[lmScore]]: rank the
    * scored pool by (avg_nll_micronats, doc_id) ascending — most fluent
    * first — and label the first ceil(headPermille/1000 · n) docs "head",
    * the last ceil(tailPermille/1000 · n) "tail", the rest "middle".
    * Fractions are integer per-mille so the cutoffs are exact long
    * arithmetic (ceil(n·p/1000) = (n·p + 999) div 1000), replayable in SQL.
    *
    * Scale shape: the global rank comes from
    * [[graft.ops.Analytics.globalPrefixSums]] over avg-nll range buckets
    * (`bucketMicronats` wide), NOT a single-partition global window — the
    * only unpartitioned window runs over one row per occupied bucket. */
  def perplexityBuckets(docs: DataFrame, isTrain: Column,
      headPermille: Int = 300, tailPermille: Int = 300,
      bucketMicronats: Long = 100000L): DataFrame = {
    val scored = lmScore(docs, isTrain)
    val ranked = graft.ops.Analytics.globalPrefixSums(
      scored,
      floor(col("avg_nll_micronats").cast("double") / lit(bucketMicronats.toDouble))
        .cast("long"),
      Seq(col("avg_nll_micronats"), col("doc_id")),
      Seq("one" -> lit(1L)))
    val n = col("total_one")
    val headN = floor((n * lit(headPermille.toLong) + lit(999L)) / lit(1000L))
      .cast("long")
    val tailN = floor((n * lit(tailPermille.toLong) + lit(999L)) / lit(1000L))
      .cast("long")
    val out = ranked.select(col("doc_id"), col("n_bigrams"),
      col("avg_nll_micronats"), col("cum_one").as("rank"),
      when(col("cum_one") <= headN, lit("head"))
        .when(col("cum_one") > n - tailN, lit("tail"))
        .otherwise(lit("middle")).as("bucket"))
    out
  }

  /** Calibrate a STREAMING admission threshold from the batch tiering
    * contract: run [[perplexityBuckets]]' tail split over a representative
    * batch and return the largest avg_nll_micronats that stayed OUT of the
    * tail — the fixed `maxAvgNllMicronats` a
    * [[graft.stream.CorpusIngest.LmGate]] needs, derived from the batch
    * pipeline instead of hand-picked. Closes the batch → stream loop: a
    * gate at this threshold admits a held-out document iff the calibration
    * batch's refinery would have ranked it outside the tail.
    *
    * Tie caveat (documented, not hidden): the batch split breaks
    * equal-score ties by doc_id, which no fixed threshold can replay — the
    * returned threshold admits EVERY document at the boundary score. With
    * micronat-quantized scores a tie at the exact boundary requires two
    * docs with identical average nll; calibrate on a batch without one
    * (or accept the ≤-boundary contract, the safe side for a gate).
    *
    * One tiering pass + a 1-row max aggregate; nothing data-sized ever
    * reaches the driver. */
  def calibrateLmGate(docs: DataFrame, isTrain: Column,
      tailPermille: Int = 300, bucketMicronats: Long = 100000L): Long = {
    val tiers = perplexityBuckets(docs, isTrain, headPermille = 0,
      tailPermille = tailPermille, bucketMicronats = bucketMicronats)
    val row = tiers.filter(col("bucket") =!= "tail")
      .agg(max("avg_nll_micronats")).head()
    require(!row.isNullAt(0),
      "calibrateLmGate: every scored document fell in the tail tier — " +
        "lower tailPermille or enlarge the calibration batch")
    row.getLong(0)
  }
}
