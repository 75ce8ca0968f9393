package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction — the tokenizer-training step of
  * a training-data pipeline, fully in-engine.
  *
  * Scale contract (the quantizer pattern from [[graft.sim.Similarity]]):
  * merge training needs only the WORD-FREQUENCY table, capped to the top
  * `vocabCap` words — bounded state independent of corpus size — so the
  * tight merge loop runs on the driver (deterministic, no per-iteration job
  * latency), exactly how production BPE trainers operate on frequency
  * tables. The corpus-sized work stays distributed: one map-combined word
  * count to build the table, and one broadcast map-literal join to apply
  * the learned tokenization (out-of-vocabulary words fall back to
  * char-count, the worst-case BPE segmentation).
  */
object Bpe {

  /** Train `numMerges` BPE merges over (word, freq) pairs — the classic
    * Sennrich algorithm: repeatedly merge the most frequent adjacent symbol
    * pair (ties break lexicographically so training is deterministic).
    * Symbols start as single characters; merged symbols concatenate. */
  def trainMerges(wordFreq: Seq[(String, Long)],
                  numMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toArray, f) }.toArray
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val joined = best._1 + best._2
        words = words.map { case (syms, f) =>
          val out = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += joined; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), f)
        }
        m += 1
      }
    }
    merges.result()
  }

  /** Tokens per word under a trained merge list (apply merges in training
    * order — the standard BPE segmentation for in-vocabulary words). */
  def segmentCounts(words: Seq[String],
                    merges: Seq[(String, String)]): Map[String, Int] = {
    words.map { w =>
      var syms = w.map(_.toString).toArray
      merges.foreach { case (a, b) =>
        if (syms.length > 1) {
          val out = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.result()
        }
      }
      w -> syms.length
    }.toMap
  }

  /** Fit BPE on the corpus' top-`vocabCap` words and report per-document
    * token compression: whitespace token count, BPE token count (learned
    * segmentation for in-vocab words, char-count fallback for the tail),
    * and the compression ratio. The vocabulary CAP is what makes this a
    * 100 TB design — training state is top-N word frequencies, never the
    * corpus; the application pass is one broadcast map-literal lookup. */
  def bpeCompressionStats(docs: DataFrame, vocabCap: Int = 2048,
                          numMerges: Int = 256): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(TextStats.normTokens()).as("tok"))
    val topWords = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(vocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val merges = trainMerges(topWords, numMerges)
    val segCounts = segmentCounts(topWords.map(_._1), merges)
    val segMap = typedLit(segCounts)
    toks.select(col("doc_id"), col("tok"),
        coalesce(segMap(col("tok")), length(col("tok"))).as("n_bpe"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_bpe")).cast("long").as("n_bpe_tokens"),
        sum(length(col("tok"))).cast("long").as("n_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_bpe_tokens"),
        round(col("n_chars").cast("double") /
          col("n_bpe_tokens").cast("double"), 6).as("chars_per_bpe_token"))
  }

  /** Self-verifying gate over [[bpeCompressionStats]]: the merge list is
    * algorithm-internal, so the verified contract is the segmentation
    * INVARIANT (per token 1 <= bpe_count <= char_count, hence corpus-wide
    * n_tokens <= n_bpe_tokens <= n_chars) plus "training actually
    * compresses" (n_bpe_tokens strictly below n_chars — some merge
    * applied), anchored by oracle-countable doc/token/char totals. */
  def bpeGate(docs: DataFrame, vocabCap: Int = 2048,
              numMerges: Int = 256): DataFrame =
    bpeCompressionStats(docs, vocabCap, numMerges)
      .join(docs.select(col("doc_id"),
        aggregate(TextStats.normTokens(),
          lit(0L), (acc, t) => acc + length(t)).as("n_tok_chars")), Seq("doc_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("n_tok_chars").as("total_token_chars"),
        (sum("n_bpe_tokens") >= sum("n_tokens")).as("bpe_ge_tokens"),
        (sum("n_bpe_tokens") < sum("n_tok_chars")).as("bpe_compresses"))
}
