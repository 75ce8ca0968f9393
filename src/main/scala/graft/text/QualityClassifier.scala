package graft.text

import graft.ops.Caching
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned document-quality classifier — the discriminative web filter of
  * the GPT-3 / CCNet / LLaMA curation recipes (Brown et al. 2020 §A;
  * Wenzek et al., arXiv:1911.00359 §4.3; Touvron et al. 2023): train a
  * linear classifier to tell a TRUSTED reference corpus (Wikipedia, books)
  * from the unfiltered pool, then score every candidate document by its
  * class log-odds and keep the ones that "look like" the reference.
  *
  * The model is multinomial Naive Bayes over HASHED bag-of-ngrams features
  * (unigrams + word bigrams, the fastText feature set of Joulin et al.
  * 2016): a gram's feature id is its 60-bit md5 token hash
  * ([[Dedup.portableTokenHash]]) folded into `numBuckets` — the hashing
  * trick, so the feature space is FIXED-width regardless of vocabulary and
  * the model is two count columns per occupied bucket. With Laplace
  * smoothing over the bucket space, a document's score is
  *
  *   score(d) = Σ_grams ln( P(bucket | pos) / P(bucket | neg) )
  *            = Σ_grams ln( (c_pos(b)+1)·(N_neg+B) / ((c_neg(b)+1)·(N_pos+B)) )
  *
  * — the class-conditional log-likelihood ratio. The class PRIOR is a
  * constant additive term per document, deliberately omitted: a threshold
  * gate absorbs it, and dropping it spares the oracle a doc-count scalar.
  *
  * Engine-portable and EXACT (the q165/q190/q200 integer discipline): each
  * occupied bucket's weight is quantized ONCE to integer micronats (the ln
  * argument formed as double products of exactly-representable longs — at
  * trillion-gram scale a long product would wrap, doubles cannot), and a
  * document's score is then an exact long SUM — order-independent,
  * hash-replayable in SQL. Predicates `isPositive`/`isNegative` should be
  * disjoint; a doc matching both counts toward both classes.
  *
  * Scale shape: ONE corpus scan (a materialized projection or gram
  * stream of the [[graft.ops.Caching]] contract — the count tables and
  * the scoring stream both read it); the weight table is bounded by
  * min(observed grams, numBuckets) rows and joins the gram stream as an
  * ordinary shuffled equi-join on a long key; the (N_pos, N_neg) totals
  * collapse to driver-side literals via ONE bounded aggregate head — the
  * same job that fail-fasts on a degenerate class. Nothing document-sized
  * reaches the driver.
  */
object QualityClassifier {

  /** Hashed unigram + bigram feature stream: one row per gram OCCURRENCE,
    * (doc_id, is_p, is_n, bh). Zero-token docs emit nothing (and so drop
    * out of scoring — the lmScore contract). */
  private def gramStream(docs: DataFrame, isPositive: Column,
                         isNegative: Column, numBuckets: Int): DataFrame = {
    val toks = TextStats.normTokens()
    // bigrams via a guarded transform: sequence(0, -1) DESCENDS in Spark,
    // so the < 2-token case must short-circuit to the empty array
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(0), size(col("toks")) - 2),
        j => concat(element_at(col("toks"), j + 1), lit(" "),
          element_at(col("toks"), j + 2))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), isPositive.as("is_p"), isNegative.as("is_n"),
        toks.as("toks"))
      .select(col("doc_id"), col("is_p"), col("is_n"),
        explode(concat(col("toks"), bigrams)).as("gr"))
      .select(col("doc_id"), col("is_p"), col("is_n"),
        pmod(Dedup.portableTokenHash(col("gr")), lit(numBuckets.toLong))
          .as("bh"))
  }

  /** Per-bucket (cp, cn) class counts over the labeled rows of a gram
    * stream — bounded by min(observed grams, numBuckets) rows. */
  private def bucketCounts(grams: DataFrame): DataFrame =
    grams.filter(col("is_p") || col("is_n"))
      .groupBy("bh")
      .agg(sum(when(col("is_p"), 1L).otherwise(0L)).as("cp"),
        sum(when(col("is_n"), 1L).otherwise(0L)).as("cn"))

  /** A trained classifier as DATA: the per-bucket weight table plus the
    * unseen-bucket default — persistable to a lake table and servable
    * against any batch or stream without retraining (the
    * [[LangModel.LmModel]] lifecycle shape). */
  final case class NbModel(weights: DataFrame, defaultMicronats: Long,
                           numBuckets: Int)

  /** The fit: ONE totals job over the count table serves both the
    * degenerate-class fail-fast (an empty class must throw, not silently
    * NULL every score) and the (np, nn) scalar, which then rides the
    * weight expressions as literals — serving needs no scalar join. The
    * unseen-bucket default is the same weight at zero counts, formed on
    * the driver with the same doubles. */
  private def fitClassifier(counts: DataFrame, numBuckets: Int,
                            caller: String): NbModel = {
    val totRow = counts
      .agg(coalesce(sum("cp"), lit(0L)), coalesce(sum("cn"), lit(0L))).head()
    val (np, nn) = (totRow.getLong(0), totRow.getLong(1))
    require(np > 0L && nn > 0L,
      s"$caller: both classes need at least one gram " +
        s"(positive grams = $np, negative grams = $nn)")
    val weights = counts.select(col("bh"),
      TextStats.laplaceLogOdds(col("cp"), col("cn"), lit(np), lit(nn),
        numBuckets).as("w"))
    val b = numBuckets.toLong
    NbModel(weights,
      TextStats.lnMicronats((nn + b).toDouble / (np + b).toDouble), numBuckets)
  }

  /** The serve: weight equi-join, unseen default, exact long sums over a
    * gram stream. Returns (doc_id, n_grams, score_micronats, avg_micronats):
    * the exact long gram-sum and its rounded per-gram average (the
    * length-invariant form a threshold gate should use). */
  private def serveClassifier(model: NbModel, grams: DataFrame): DataFrame =
    grams
      .join(model.weights, Seq("bh"), "left")
      .select(col("doc_id"),
        coalesce(col("w"), lit(model.defaultMicronats)).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("w")).as("score_micronats"))
      .select(col("doc_id"), col("n_grams"), col("score_micronats"),
        floor(col("score_micronats").cast("double") /
          col("n_grams").cast("double") + lit(0.5)).cast("long")
          .as("avg_micronats"))

  /** In-line train + score: [[trainQualityClassifier]]'s fit over the
    * `isPositive`/`isNegative` slices, then EVERY document with at least
    * one token served (the training slices included — a score is just a
    * projection through the count tables, and the pool being filtered
    * usually IS the negative class). The labelled corpus projection and
    * the bucket counts are materialized, so the corpus is scanned once and
    * tokenized twice (the fit, the serve); the returned score table stays
    * lazy and both entries are the caller's to release (the harnesses'
    * [[graft.ops.Caching.releaseAll]]). Same schema as
    * [[scoreWithClassifier]]. */
  def classifierScore(docs: DataFrame, isPositive: Column, isNegative: Column,
                      numBuckets: Int = 1 << 18): DataFrame = {
    val grams = gramStream(Caching.materialize(docs.select(col("doc_id"),
        col("text"), isPositive.as("is_p"), isNegative.as("is_n"))),
      col("is_p"), col("is_n"), numBuckets)
    serveClassifier(fitClassifier(Caching.materialize(bucketCounts(grams)),
      numBuckets, "classifierScore"), grams)
  }

  /** Train on the labeled slices only. The count table is a scoped
    * interim: the totals head() and the weights both read it — uncached,
    * the full tokenize+gram corpus pass runs twice. The returned weights
    * are materialized; the caller releases them. */
  def trainQualityClassifier(docs: DataFrame, isPositive: Column,
                             isNegative: Column,
                             numBuckets: Int = 1 << 18): NbModel =
    Caching.scoped { scope =>
      val m = fitClassifier(scope.materialize(bucketCounts(
        gramStream(docs, isPositive, isNegative, numBuckets))),
        numBuckets, "trainQualityClassifier")
      m.copy(weights = Caching.materialize(m.weights))
    }

  /** Persist a trained classifier into the lake as two versioned tables
    * (`{prefix}_nb_weights`, `{prefix}_nb_meta`) — the classifier sibling
    * of the LM's [[LangModel.saveLm]] lifecycle. */
  def saveClassifier(lake: graft.tables.LakeTable, prefix: String,
                     model: NbModel): Unit = {
    lake.write(model.weights, s"${prefix}_nb_weights", "overwrite"): Unit
    val spark = model.weights.sparkSession
    import spark.implicits._
    lake.write(
      Seq((model.defaultMicronats, model.numBuckets))
        .toDF("default_micronats", "num_buckets"),
      s"${prefix}_nb_meta", "overwrite"): Unit
  }

  /** Load a persisted classifier; the 1-row meta read is the only
    * collect. */
  def loadClassifier(lake: graft.tables.LakeTable, prefix: String): NbModel = {
    val meta = lake.read(s"${prefix}_nb_meta").head()
    NbModel(lake.read(s"${prefix}_nb_weights"),
      meta.getAs[Long]("default_micronats"), meta.getAs[Int]("num_buckets"))
  }

  /** Serving path: score any documents against a trained model. Same
    * schema as [[classifierScore]]. */
  def scoreWithClassifier(model: NbModel, docs: DataFrame): DataFrame =
    serveClassifier(model, gramStream(docs, lit(false), lit(false), model.numBuckets))
}
