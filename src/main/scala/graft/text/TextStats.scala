package graft.text

import graft.functions.NormalizeText
import graft.ops.Caching
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (BASELINE.json extension surface; runs over the `documents` table).
  *
  * Everything here is built from codegen'd built-in / higher-order functions —
  * no UDFs — so the operators stay inside whole-stage codegen and scale
  * linearly with a pure map (no shuffle) over 100 TB of documents.
  */
object TextStats {

  /** Whitespace tokenization of trimmed text (empty string -> empty array). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** [[tokens]] specialized to ALREADY-NORMALIZED input ([[normalize]]'s
    * output: every whitespace run collapsed to one single space) — split on
    * the literal one-char " " instead of the "\\s+" regex. The single-char
    * non-meta pattern takes java.lang.String.split's no-regex fast path
    * instead of compiling a Pattern per row (~18% off the tokenize pass,
    * measured at 32× corpus). The space-trim is load-bearing: Spark's
    * `trim` strips ONLY ASCII spaces, so normalize's input-trim leaves
    * leading/trailing tabs/newlines behind and the collapse turns them
    * into a single leading/trailing SPACE — after normalize that single
    * space is the only whitespace that can flank the text, so trimming it
    * here makes this exact-identical to `tokens` on every input
    * (PropertySpec's gramStream property pins it on adversarial
    * whitespace). Use ONLY where the argument is normalize(...) or a
    * materialized normalized column; raw text keeps [[tokens]]. */
  def tokensN(norm: Column): Column = {
    val t = trim(norm)
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, " "))
  }

  /** Lowercased, whitespace-collapsed canonical form used as the exact-dedup
    * key and the shingling input: the native [[graft.functions.NormalizeText]],
    * byte-equal to `regexp_replace(lower(trim(text)), "\\s+", " ")`. ASCII
    * text takes a one-pass byte loop, any other text Spark's own `Lower`
    * and the same regex. The first `lower()` in a JVM initializes Spark's
    * `CollationAwareUTF8String`, which title-cases every code point (1.4–1.7 s
    * in a bare JVM); the ASCII path never pays that. */
  def normalize(text: Column): Column =
    GraftSqlBridge.column(NormalizeText(GraftSqlBridge.expression(text)))

  /** The canonical word tokenization every text operator works in:
    * [[tokensN]] over [[normalize]]'s output — the one pairing under which
    * tokensN's single-space split is exact. */
  def normTokens(text: Column = col("text")): Column = tokensN(normalize(text))

  /** ln(x) quantized ONCE to integer micronats — the exact-integer
    * discipline of every log-probability score (the LM, the NB
    * classifier, DSIR). Spark's `log` is `StrictMath.log`, so the value is
    * fixed by the IEEE input on any JVM. */
  private[graft] def micronats(x: Column): Column =
    floor(log(x) * lit(1000000.0) + lit(0.5)).cast("long")

  /** [[micronats]] on the driver, for scalars that ride a model as
    * literals (unknown-token defaults): `StrictMath.log`, the function
    * Spark's `log` calls — `math.log` may differ by one ulp. */
  private[graft] def lnMicronats(x: Double): Long =
    math.floor(StrictMath.log(x) * 1e6 + 0.5).toLong

  /** Laplace-smoothed per-bucket log-odds in micronats,
    * ln((ca+1)·(nb+B) / ((cb+1)·(na+B))) over `buckets` = B hashed
    * features: class-a count `ca` and total `na` against class b's. Every
    * product is formed in doubles (a long product of count × total would
    * wrap at trillion-gram scale). */
  private[graft] def laplaceLogOdds(ca: Column, cb: Column, na: Column,
                                    nb: Column, buckets: Int): Column =
    micronats((ca + lit(1L)).cast("double") *
      (nb + lit(buckets.toLong)).cast("double") /
      ((cb + lit(1L)).cast("double") * (na + lit(buckets.toLong)).cast("double")))

  /** Per-document token statistics: token count, character count without
    * spaces, mean token length (exact double division — engine-portable). */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_chars_nospace"),
      (length(regexp_replace(col("text"), "\\s", "")).cast("double") /
        size(toks).cast("double")).as("avg_token_len"))
  }

  /** Quality-scoring heuristics (length / stopword-ratio / distinct-token
    * ratio), the classic pre-training filter features. */
  def qualityScore(docs: DataFrame, stopwords: Seq[String] = Seq("the", "a", "of", "and")): DataFrame = {
    val toks = normTokens()
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(_.asInstanceOf[Any]): _*))).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      (nStop / nTok).as("stopword_ratio"),
      (nDistinct / nTok).as("distinct_ratio"),
      least(lit(1.0), nTok / lit(100.0)).as("length_score"),
      when(nTok >= 20 && nDistinct / nTok >= 0.2, lit(1L)).otherwise(lit(0L)).as("passes_filter"))
  }

  /** N-gram (word) shingles over an ALREADY-MATERIALIZED token array column.
    *
    * Callers must project the token array in a separate select first
    * (`df.select(normTokens(col).as("toks")).select(shinglesOf(col("toks"), n))`):
    * referencing an unmaterialized `split` from inside the lambda makes
    * Catalyst inline the tokenizer into every `slice` call — measured 7-20x
    * slower from re-tokenizing per shingle. */
  def shinglesOf(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** N-gram (word) shingles of the normalized text — the MinHash input.
    * Convenience single-Column form; for corpus-scale work prefer
    * [[shinglesOf]] over a pre-materialized token column. */
  def shingles(text: Column, n: Int): Column =
    shinglesOf(normTokens(text), n)

  /** (id, gram) ROWS — every word-n-gram occurrence of the normalized
    * text, via a POSITIONAL explode: generate the start indices, then
    * build ONE gram per output row with a single slice+concat.
    * Semantically identical to exploding [[shinglesOf]] (docs shorter
    * than `n` yield their whole text as the single gram; empty docs one
    * empty gram; multiplicity preserved — wrap with distinct for set
    * semantics), but measured ~8x faster at corpus scale: exploding a
    * COMPUTED string-array evaluates the O(len·n) array construction in
    * an interpreted projection (higher-order-function lambdas fall out of
    * whole-stage codegen, and the un-codegen'd build dominated every
    * gram-counting operator's wall clock), while the positional form
    * keeps every expression codegen'd. Use this for anything that
    * EXPLODES grams; keep [[shinglesOf]] where the ARRAY itself is the
    * value (set-intersection verify stages). */
  def gramStream(docs: DataFrame, n: Int, idCol: String = "doc_id",
                 textCol: String = "text",
                 carryCols: Seq[String] = Nil): DataFrame = {
    val carried = carryCols.map(col)
    docs.select(col(idCol) +: normTokens(col(textCol)).as("toks") +:
        carried: _*)
      .select(col(idCol) +: col("toks") +:
        explode(sequence(lit(0), greatest(size(col("toks")) - n, lit(0))))
          .as("i") +: carried: _*)
      .select(col(idCol) +:
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n))).as("gram") +:
        carried: _*)
  }

  /** Language identification by function-word profiles: argmax over languages
    * of distinct-token overlap with each profile (deterministic, tie -> "und").
    * A pure-map n-gram heuristic; profiles are broadcast as literals into the
    * codegen'd plan.
    */
  def languageId(docs: DataFrame,
                 profiles: Map[String, Seq[String]] = defaultProfiles): DataFrame = {
    val toks = array_distinct(normTokens())
    // array_max on struct(score, negOrd) picks highest score; ties resolve to
    // the profile with the lowest ordinal for determinism.
    val scored = profiles.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((lang, words), i) =>
        struct(
          size(array_intersect(toks, lit(words.toArray))).as("score"),
          lit(-i).as("negOrd"),
          lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    docs.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      when(best.getField("score") > 0, best.getField("lang"))
        .otherwise(lit("und")).as("predicted_lang"))
  }

  /** Tiny built-in function-word profiles (public linguistic knowledge). */
  val defaultProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "es" -> Seq("el", "la", "que", "los", "una", "es", "por", "con"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Polynomial rolling-hash fingerprint over the characters of the
    * normalized text (Karp–Rabin style): acc = (acc*31 + code) mod p,
    * expressed with higher-order `aggregate` so it stays a codegen'd map. */
  def fingerprint(text: Column, p: Long = 1000000007L): Column = {
    val codes = transform(split(normalize(text), ""), c => ascii(c).cast("long"))
    aggregate(codes, lit(0L), (acc, c) => (acc * 31L + c) % p)
  }

  /** Per-document fingerprints. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fingerprint"))

  /** The email/phone patterns [[redactPii]] scrubs (RE2-compatible — no
    * backrefs/lookaround, so they run identically under Java regex and any
    * RE2-based engine). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // 7-15 digits total, at most one space/hyphen between digits: an unbounded
  // [\d -]* body over-redacts non-PII spans (date ranges, ID lists)
  val PhoneRe = "\\+?\\d(?:[ -]?\\d){6,14}"
  val UrlRe = "https?://[^\\s]+"

  /** Training-data PII/noise scrub: replace URLs, then emails, then
    * phone-number-like spans with typed placeholder tokens (URLs first so an
    * embedded user@host never half-matches as an email). Pure codegen'd
    * regexp_replace chain — a per-row map, no UDF, scales with the scan. */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c, UrlRe, "<URL>"),
      EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Per-document bigram repetition (the Gopher-style repetition filter
    * signal): fraction of word bigrams that are repeats of an earlier bigram
    * in the same document. Token array is materialized in its own projection
    * BEFORE the lambda uses it (multi-referenced non-cheap aliases are not
    * collapsed, so the tokenizer runs once per row, not per bigram). */
  def repetitionRatio(docs: DataFrame): DataFrame = {
    val withToks = docs.select(col("doc_id"), normTokens().as("toks"))
    val grams = when(size(col("toks")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))))
    val withGrams = withToks.select(col("doc_id"), grams.as("grams"))
    withGrams.select(col("doc_id"),
      size(col("grams")).cast("long").as("n_bigrams"),
      size(array_distinct(col("grams"))).cast("long").as("n_distinct_bigrams"),
      when(size(col("grams")) === 0, lit(0.0))
        .otherwise(lit(1.0) - size(array_distinct(col("grams"))).cast("double") /
          size(col("grams")).cast("double"))
        .as("repetition_ratio"))
  }

  /** The Gopher/MassiveText quality-rule bundle (Rae et al. 2021, table A1)
    * — the published per-document heuristic filter suite, each rule as an
    * exact metric plus its boolean, and the conjunction as `pass_gopher`:
    *   - word count in [minWords, maxWords];
    *   - mean word length in [3, 10] characters;
    *   - symbol-to-word ratio ('#' or '...' occurrences / words) ≤ 0.1;
    *   - ≥ 80% of words contain at least one alphabetic character;
    *   - ≥ 2 DISTINCT stop words from the paper's 8-word list;
    *   - ≤ 90% of lines start with a bullet, ≤ 30% end with an ellipsis
    *     (lines split on raw '\n'; single-line documents have one line).
    * Every metric is a pure codegen map over the shared normalize/tokens
    * primitives (integer counts, two rounded divisions), zero shuffles —
    * the filter runs as a scan-side projection at any corpus size. Ratios
    * round at 6 dp; rule booleans compare the UNROUNDED exact values. */
  /** The eight integer statistics the Gopher rule bundle compares — ONE
    * spelling shared by [[gopherQualityProfile]] and [[passesGopherGate]]
    * (the profile and the pushable gate predicate are built from these
    * same expressions, so the two surfaces cannot drift). */
  private def gopherStats: Seq[(String, Column)] = {
    val stopWords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val norm = normalize(col("text"))
    val toks = tokensN(norm)
    val nHash = length(norm) - length(regexp_replace(norm, "#", ""))
    val nEllipsis = (length(norm) -
      length(regexp_replace(norm, "\\.\\.\\.", ""))) / 3
    val lines = split(col("text"), "\n")
    Seq(
      "n_words" -> size(toks).cast("long"),
      "sum_word_chars" -> aggregate(toks, lit(0L), (a, t) => a + length(t)),
      "n_symbols" -> (nHash + nEllipsis).cast("long"),
      "n_alpha_words" -> size(filter(toks, t => t.rlike("[a-z]"))).cast("long"),
      "n_stop_words" -> size(filter(
        array(stopWords.map(lit): _*), s => array_contains(toks, s))).cast("long"),
      "n_lines" -> size(lines).cast("long"),
      "n_bullet_lines" -> size(filter(lines,
        l => trim(l).startsWith("-") || trim(l).startsWith("*"))).cast("long"),
      "n_ellipsis_lines" -> size(filter(lines,
        l => trim(l).endsWith("..."))).cast("long"))
  }

  /** The six Gopher rule booleans over a map of the [[gopherStats]] values
    * (integer arithmetic only — shared spelling, same no-drift argument:
    * the profile feeds projected stat COLUMNS, the gate feeds the raw stat
    * EXPRESSIONS, both through these formulas). */
  private def gopherRules(s: Map[String, Column], minWords: Long,
                          maxWords: Long, minStopWords: Long): Seq[(String, Column)] = Seq(
    "words_ok" -> (s("n_words") >= minWords && s("n_words") <= maxWords),
    "mean_len_ok" -> (s("sum_word_chars") >= s("n_words") * 3L &&
      s("sum_word_chars") <= s("n_words") * 10L),
    "symbol_ok" -> (s("n_symbols") * 10L <= s("n_words")),
    "alpha_ok" -> (s("n_alpha_words") * 5L >= s("n_words") * 4L),
    "stop_ok" -> (s("n_stop_words") >= minStopWords),
    "lines_ok" -> (s("n_bullet_lines") * 10L <= s("n_lines") * 9L &&
      s("n_ellipsis_lines") * 10L <= s("n_lines") * 3L))

  def gopherQualityProfile(docs: DataFrame, minWords: Long = 50,
                           maxWords: Long = 100000,
                           minStopWords: Long = 2): DataFrame = {
    docs.select(col("doc_id") +:
        gopherStats.map { case (n, c) => c.as(n) }: _*)
      .select(Seq(col("doc_id"), col("n_words"),
        round(col("sum_word_chars").cast("double") /
          col("n_words").cast("double"), 6).as("mean_word_len"),
        round(col("n_symbols").cast("double") /
          col("n_words").cast("double"), 6).as("symbol_ratio"),
        round(col("n_alpha_words").cast("double") /
          col("n_words").cast("double"), 6).as("alpha_word_frac"),
        col("n_stop_words")) ++
        gopherRules(gopherStats.map { case (n, _) => n -> col(n) }.toMap,
          minWords, maxWords, minStopWords)
          .map { case (n, c) => c.as(n) }: _*)
      .withColumn("pass_gopher",
        col("words_ok") && col("mean_len_ok") && col("symbol_ok") &&
          col("alpha_ok") && col("stop_ok") && col("lines_ok"))
  }

  /** Gopher's repetition signals over word `n`-grams: the most frequent
    * n-gram's character coverage and the total character coverage of all
    * REPEATED n-grams. Contract (documented, both engines spell it
    * identically): coverage of a gram = occurrences × length of the
    * space-joined gram string; denominator = length of the normalized
    * text; overlapping occurrences each count (the cheap published proxy —
    * exact span accounting needs interval merging, which the ratio gate
    * doesn't justify). Top gram ties break lexicographically. One explode +
    * one (doc, gram) hash aggregate + a rank-1 window (WindowGroupLimit
    * prunes to one survivor per doc before the shuffle); documents with
    * fewer than `n` tokens drop out. */
  def topNgramCharFraction(docs: DataFrame, n: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"),
        normTokens().as("toks"),
        length(normalize(col("text"))).cast("long").as("n_chars"))
      .filter(size(col("toks")) >= n)
    // positional explode ([[gramStream]]'s codegen rationale); base already
    // guarantees size >= n so the index range is never empty
    val grams = base
      .select(col("doc_id"), col("n_chars"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("doc_id"), col("n_chars"),
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n))).as("g"))
      .groupBy(col("doc_id"), col("n_chars"), col("g"))
      .agg(count(lit(1)).as("c"))
    val dup = grams.groupBy("doc_id")
      .agg(sum(when(col("c") > 1, col("c") * length(col("g")).cast("long"))
        .otherwise(0L)).as("dup_chars"))
    val w = Window.partitionBy("doc_id").orderBy(desc("c"), asc("g"))
    grams.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(dup, Seq("doc_id"))
      .select(col("doc_id"), col("g").as("top_gram"), col("c").as("n_occurrences"),
        round((col("c") * length(col("g"))).cast("double") /
          col("n_chars").cast("double"), 6).as("top_char_fraction"),
        round(col("dup_chars").cast("double") /
          col("n_chars").cast("double"), 6).as("dup_char_fraction"))
  }

  /** Corpus term-frequency table: one row per distinct token with its
    * occurrence count — explode + hash-aggregate (map-side combined), the
    * vocabulary-building primitive. */
  def termFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(normTokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))

  /** Collocation mining: pointwise mutual information of ADJACENT token
    * pairs, pmi(a,b) = ln( P(ab) / (P(a)·P(b)) ) with bigram probabilities
    * over all adjacent positions and unigram probabilities over all tokens.
    * High-PMI pairs are multiword units ("new york"); a corpus whose top
    * PMI list is dominated by boilerplate pairs is template-generated.
    *
    * Bigrams come from a per-row `zip_with` of the token array against its
    * own tail — no self-join, no positional window; one explode + one
    * map-side-combined count per granularity. `minCount` prunes the noise
    * floor (PMI of singletons is pure variance), the final top-N sorts the
    * pruned pair table only. Ordering is total (rounded pmi desc, then the
    * pair), so the LIMIT is deterministic. */
  def bigramPmi(docs: DataFrame, minCount: Long = 5, topN: Int = 30,
                textCol: String = "text"): DataFrame = {
    val toks = docs.select(normTokens(col(textCol)).as("ts"))
    // positional explode ([[gramStream]]'s codegen rationale): one adjacent
    // pair per output row, everything codegen'd; <2-token rows contribute
    // no bigram, as with the zip_with spelling
    val bigrams = toks.filter(size(col("ts")) >= 2)
      .select(col("ts"),
        explode(sequence(lit(0), size(col("ts")) - 2)).as("i"))
      .groupBy(element_at(col("ts"), col("i") + 1).as("tok_a"),
        element_at(col("ts"), col("i") + 2).as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
    val unigrams = toks.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
    val totals = bigrams.agg(sum(col("n_ab")).as("n_bigrams_total")).crossJoin(
      unigrams.agg(sum(col("n_tok")).as("n_tokens_total")))
    // unigram lookups stay unhinted: the vocabulary can be arbitrarily large
    // at corpus scale, and AQE broadcasts it only when it actually fits
    bigrams.filter(col("n_ab") >= minCount)
      .join(unigrams.select(col("tok").as("tok_a"), col("n_tok").as("n_a")), "tok_a")
      .join(unigrams.select(col("tok").as("tok_b"), col("n_tok").as("n_b")), "tok_b")
      .crossJoin(broadcast(totals))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log((col("n_ab").cast("double") / col("n_bigrams_total").cast("double")) /
          ((col("n_a").cast("double") / col("n_tokens_total").cast("double")) *
            (col("n_b").cast("double") / col("n_tokens_total").cast("double")))), 6)
          .as("pmi"))
      .orderBy(desc("pmi"), col("tok_a"), col("tok_b"))
      .limit(topN)
  }

  /** BPE-style pre-tokenizer pattern (GPT-2-like, simplified to stay
    * RE2-compatible — alternation of contraction suffixes, letter runs,
    * short digit runs, and single punctuation; no lookaround, so Java regex
    * and RE2 engines split identically). */
  val BpeTokenRe = "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]"

  /** Token count under the BPE-ish pre-tokenizer — the LLM-cost estimate
    * companion to whitespace counting ([[tokenStats]]). Codegen'd
    * regexp_extract_all, no UDF. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeTokenRe), lit(0)))

  /** Shannon entropy of the corpus source mixture (nats) — the diversity
    * summary a data-mixing recipe tracks: low entropy = one source
    * dominates. Probabilities divide exact longs; 6 dp rounding absorbs the
    * few-term float sum order and any libm `ln` last-ulp difference between
    * engines. One tiny aggregate over |sources| rows. */
  def sourceEntropy(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
    val p = col("cnt").cast("double") /
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
        .partitionBy()).cast("double")
    counts.select(col("cnt"), p.as("p"))
      .agg(count(lit(1)).as("n_sources"),
        round(-sum(col("p") * log(col("p"))), 6).as("entropy_nats"))
  }

  /** Per-document character-level Shannon entropy (nats) — the garbage
    * detector: random/base64/binary-pasted text scores near ln(alphabet)
    * while natural language sits much lower. Entropy is a PER-ROW quantity,
    * so it is computed entirely inside the row with higher-order functions
    * (sort chars -> run-length boundaries -> -Σ p·ln p): ZERO shuffles,
    * where the explode + groupBy(doc_id, char) spelling pays two exchanges
    * of text-length-many rows. Run lengths accumulate in ascending char
    * order, a deterministic float-sum order (the previous shuffle form
    * summed in partition order). Empty documents produce no characters and
    * drop out (identically in engines that split-to-chars without a
    * trailing empty element). */
  def charEntropy(docs: DataFrame): DataFrame = {
    val chars = array_sort(filter(
      split(normalize(col("text")), ""), ch => ch =!= lit("")))
    docs
      .select(col("doc_id"), chars.as("cs"))
      .filter(size(col("cs")) > 0)
      // starts = indices where a new run of an identical char begins
      .withColumn("starts", filter(
        sequence(lit(0), size(col("cs")) - 1),
        i => i === 0 || element_at(col("cs"), i + 1) =!= element_at(col("cs"), i)))
      // run length k = next start − this start; p = k / n
      .withColumn("runs", zip_with(
        col("starts"),
        concat(slice(col("starts"), lit(2), size(col("starts"))), array(size(col("cs")))),
        (a, b) => b - a))
      .select(col("doc_id"),
        size(col("cs")).cast("long").as("n_chars"),
        round(-aggregate(col("runs"), lit(0.0),
          (acc, k) => acc + (k.cast("double") / size(col("cs")).cast("double")) *
            log(k.cast("double") / size(col("cs")).cast("double"))), 6)
          .as("char_entropy"))
  }

  /** The boolean form of [[qualityScore]]'s `passes_filter` (enough tokens,
    * enough distinct tokens) — shared by the gate callers so the batch
    * refinery, the streaming ingest, and this rollup can never drift. */
  def passesQualityGate(minTokens: Int = 20,
                        minDistinctRatio: Double = 0.2): Column = {
    val toks = normTokens()
    val nTok = size(toks).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    size(toks) >= minTokens && nDistinct / nTok >= minDistinctRatio
  }

  /** The boolean form of [[gopherQualityProfile]]'s `pass_gopher` — the
    * published MassiveText filter suite as ONE pushable predicate (pure
    * codegen map, scan-side at any corpus size), so the refinery can gate
    * on the production rule bundle instead of the basic length screen.
    * Same integer-arithmetic rule spellings as the profile (a spec pins
    * gate == profile conjunction, so they cannot drift). `minStopWords`
    * defaults to the paper's 2 DISTINCT stop words; corpora whose
    * vocabulary barely intersects the 8-word list (e.g. domain-specific or
    * synthetic text) can lower it rather than gate everything out. */
  def passesGopherGate(minWords: Long = 50, maxWords: Long = 100000,
                       minStopWords: Long = 2): Column =
    gopherRules(gopherStats.toMap, minWords, maxWords, minStopWords)
      .map(_._2).reduce(_ && _)

  /** Per-source quality dashboard: document counts, filter pass rate, and
    * mean token count for every corpus source — the mixture-QA rollup read
    * before adjusting source weights. One aggregate over the per-doc
    * quality expressions (map-side combined). */
  def sourceQualityProfile(docs: DataFrame): DataFrame = {
    val nTok = size(normTokens()).cast("double")
    val passes = passesQualityGate().cast("long")
    docs.select(col("source"), nTok.as("n_tokens"), passes.as("passes"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("passes")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("pass_rate"),
        round(avg(col("n_tokens")), 6).as("avg_tokens"))
  }

  /** All matches of an RE2-portable pattern per document: match count and
    * first hit (null when none — `get` is the non-ANSI-throwing accessor).
    * Pure codegen'd map; the pattern-mining primitive behind PII scans,
    * boilerplate detection, and format-specific extraction. Keep patterns
    * free of lookaround/backreferences so any RE2-based engine (and the
    * DuckDB oracle) matches identically. */
  def regexMatches(docs: DataFrame, pattern: String): DataFrame =
    docs.select(col("doc_id"),
        regexp_extract_all(normalize(col("text")), lit(pattern), lit(0)).as("m"))
      .select(col("doc_id"), size(col("m")).as("n_matches"),
        get(col("m"), lit(0)).as("first_match"))

  /** Zipf-law fit of the corpus vocabulary: regression slope of
    * ln(frequency) on ln(rank) over the top-`topN` terms (natural text runs
    * close to -1; templated or synthetic text drifts off). Composition of
    * three primitives that each scale: term counting (map-side combined),
    * a top-`topN` selection, and a moment aggregate. The selection is
    * `orderBy(...).limit(topN)` — planned as TakeOrderedAndProject, a
    * per-partition top-N merge — so the only sort the vocabulary (data-sized:
    * billions of tokens at corpus scale) ever sees is partition-local; the
    * rank window then runs over the ≤topN survivors only. Frequency ties
    * rank alphabetically so the fit is deterministic. */
  def zipfSlope(docs: DataFrame, topN: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = termFrequencies(docs)
      .orderBy(desc("n_occurrences"), asc("token"))
      .limit(topN)
    val ranked = top.select(col("token"), col("n_occurrences"),
      row_number().over(
        Window.orderBy(desc("n_occurrences"), asc("token"))).as("rank"))
    ranked.agg(count(lit(1)).as("n_terms"),
      round(expr("regr_slope(ln(n_occurrences), ln(rank))"), 6).as("zipf_slope"),
      round(expr("regr_r2(ln(n_occurrences), ln(rank))"), 6).as("fit_r2"))
  }

  /** Sentence segmentation stats: split on terminal-punctuation runs, trim,
    * drop empties, report count + average sentence length in characters
    * (integer sum, ONE rounded division — engine-portable). The
    * sentence-shape signal quality classifiers lean on (walls of unbroken
    * text and staccato fragment spam both stand out). Pure HOF map, no
    * shuffle, no UDF. */
  def sentenceStats(docs: DataFrame): DataFrame = {
    val sents = filter(
      transform(split(col("text"), "[.!?]+"), s => trim(s)),
      s => length(s) > 0)
    docs.select(col("doc_id"), sents.as("sents"))
      .select(col("doc_id"),
        size(col("sents")).as("n_sentences"),
        when(size(col("sents")) > 0,
          round(aggregate(col("sents"), lit(0L), (a, x) => a + length(x))
            .cast("double") / size(col("sents")).cast("double"), 4))
          .as("avg_sentence_chars"))
  }

  /** Character-bigram self-perplexity proxy — the KenLM-quality-filter
    * stand-in: fit the corpus' char-bigram unigram model in one aggregate,
    * then score every document by its mean negative log-probability (nats;
    * high = the document's character sequence is unlike the corpus —
    * mojibake, code dumps, foreign scripts, encrypted blobs). No external
    * LM, fully in-engine:
    *  - model: p(bg) = n(bg) / N from ONE map-combined count aggregate
    *    (state is |charset|² entries, corpus-size-independent) broadcast to
    *    the scorer;
    *  - scoring: each bigram contributes its model cost in integer
    *    MICRONATS (floor(-ln p · 1e6 + 0.5)) so per-doc sums are exact
    *    longs — no float accumulation order anywhere, the exact-cents
    *    idiom applied to log space;
    *  - bigram extraction explodes POSITIONS and takes one codegen'd
    *    `substring` per row — a per-char `transform` lambda building the
    *    same strings runs interpreted and measured ~100x slower on long
    *    documents;
    *  - the exploded stream collapses to per-(doc, bigram) COUNTS first,
    *    and both the model branch and the scoring branch read that SAME
    *    aggregate over the normalized text, which is materialized
    *    ([[graft.ops.Caching.materialize]]), so the corpus is scanned and
    *    normalized once. Without a cache ReuseExchange does NOT deliver
    *    this (the three consumers re-plan the subtree separately;
    *    measured: 3 parquet scans without the persist, 1 with —
    *    PlanAuditSpec pins the count). The returned frame stays lazy, so
    *    its plan shows the bigram explode; the text entry is the caller's
    *    to release (the harnesses' [[graft.ops.Caching.releaseAll]]).
    * Documents shorter than 2 characters have no bigrams and drop out. */
  def charBigramLogScore(docs: DataFrame): DataFrame = {
    val counts = Caching.materialize(docs
        .select(col("doc_id"), normalize(col("text")).as("t"))
        .filter(length(col("t")) >= 2)) // sequence(1, n) REVERSES when n < 1
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - 1)).as("i"))
      .select(col("doc_id"), expr("substring(t, i, 2)").as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
    val model = counts.groupBy("bg").agg(sum("n").as("n_bg"))
    val total = model.agg(sum("n_bg").as("n_total"))
    val costed = model.crossJoin(broadcast(total)) // 1-row scalar gate
      .select(col("bg"),
        floor(-log(col("n_bg").cast("double") / col("n_total").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("micronats"))
    counts.join(broadcast(costed), Seq("bg"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * col("micronats")).as("sum_micronats"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_micronats").cast("double") /
          (col("n_bigrams").cast("double") * lit(1000000.0)), 6)
          .as("avg_neg_logp"))
  }

  /** Per-source token-length band filter census — the distribution-aware
    * length screen of a mixing recipe (a fixed global cutoff misclassifies
    * sources whose natural lengths differ): exact per-source percentile
    * band [pLo, pHi] on token counts, broadcast back, and a census of
    * keep/too-short/too-long per source. Two tiny aggregates plus one
    * broadcast join; all outputs are exact integers. */
  def sourceLengthBands(docs: DataFrame, pLo: Double = 0.05,
                        pHi: Double = 0.95): DataFrame = {
    val lens = docs.select(col("source"),
      size(normTokens()).cast("long").as("n_tokens"))
    val bands = lens.groupBy("source").agg(
      expr(s"percentile(n_tokens, $pLo)").as("lo"),
      expr(s"percentile(n_tokens, $pHi)").as("hi"))
    lens.join(broadcast(bands), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") < col("lo"), 1L).otherwise(0L)).as("n_too_short"),
        sum(when(col("n_tokens") > col("hi"), 1L).otherwise(0L)).as("n_too_long"),
        sum(when(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"), 1L)
          .otherwise(0L)).as("n_kept"))
  }

  /** Token-distribution drift between the train/eval halves of the
    * deterministic md5-nibble split ([[graft.text.Dedup.crossSplitContamination]]'s
    * split policy): Jensen–Shannon divergence over the FULL shared
    * vocabulary, with every log term quantized to integer micronats and
    * weighted by exact integer counts, so both Σ-terms are exact long sums
    * (order-independent; the only floats are the final two divisions).
    * High drift = the eval split no longer looks like training data —
    * the distribution-shift alarm of a data pipeline.
    * The vocabulary-sized (token, ne, nt) aggregate is a scoped interim
    * (the [[graft.ops.Caching]] contract): the totals branch and the
    * per-term branch both read it, so without the persist the
    * tokenize+explode corpus pass runs twice. PlanAuditSpec pins one scan;
    * the one-row result is materialized and the caller releases it. */
  def splitTokenDrift(docs: DataFrame,
                      evalNibbles: Seq[String] = Seq("0", "1")): DataFrame =
    jsDriftFlagged(docs.select(
        substring(md5(col("doc_id").cast("string")), 1, 1)
          .isin(evalNibbles: _*).as("is_eval"),
        explode(normTokens()).as("tok")),
      "n_eval_tokens", "n_train_tokens")

  /** JS token-distribution drift between two ARBITRARY document frames —
    * the same exact-micronat arithmetic as [[splitTokenDrift]], over a
    * flagged union of the two token streams (two scans, one per frame —
    * inherent when the frames differ). The building block for
    * [[graft.tables.Materialize.versionDrift]]: "what changed between two
    * committed versions of the corpus". */
  def tokenDriftBetween(a: DataFrame, b: DataFrame): DataFrame =
    jsDriftFlagged(
      a.select(lit(true).as("is_eval"),
          explode(normTokens()).as("tok"))
        .unionByName(b.select(lit(false).as("is_eval"),
          explode(normTokens()).as("tok"))),
      "n_a_tokens", "n_b_tokens")

  private def jsDriftFlagged(flagged: DataFrame, aName: String,
                             bName: String): DataFrame = Caching.scoped { scope =>
    val tok = scope.materialize(flagged
      .groupBy("tok")
      .agg(sum(when(col("is_eval"), 1L).otherwise(0L)).as("ne"),
        sum(when(!col("is_eval"), 1L).otherwise(0L)).as("nt")))
    val totals = tok.agg(sum("ne").as("tne"), sum("nt").as("tnt"))
    val terms = tok.crossJoin(broadcast(totals)) // 1-row scalar gate
      .select(col("ne"), col("nt"), col("tne"), col("tnt"),
        // ln(p/m) and ln(q/m) as micronat integers; p/m = 2·ne·tnt /
        // (ne·tnt + nt·tne), with every product formed in DOUBLES — int64
        // products of count×total silently wrap at trillion-token scale
        // (and hard-error in ANSI engines). The oracle SQL casts before
        // multiplying identically, so both engines run the same IEEE ops.
        when(col("ne") > 0, col("ne") *
          floor(log(lit(2.0) *
              (col("ne").cast("double") * col("tnt").cast("double")) /
            (col("ne").cast("double") * col("tnt").cast("double")
              + col("nt").cast("double") * col("tne").cast("double")))
            * lit(1000000.0) + lit(0.5)).cast("long")).otherwise(0L).as("se"),
        when(col("nt") > 0, col("nt") *
          floor(log(lit(2.0) *
              (col("nt").cast("double") * col("tne").cast("double")) /
            (col("ne").cast("double") * col("tnt").cast("double")
              + col("nt").cast("double") * col("tne").cast("double")))
            * lit(1000000.0) + lit(0.5)).cast("long")).otherwise(0L).as("st"))
    Caching.materialize(terms.groupBy("tne", "tnt")
      .agg(sum("se").as("sume"), sum("st").as("sumt"),
        count(lit(1)).as("n_vocab"))
      .select(col("tne").as(aName), col("tnt").as(bName),
        col("n_vocab"),
        round((col("sume").cast("double") / col("tne").cast("double") +
          col("sumt").cast("double") / col("tnt").cast("double")) /
          lit(2000000.0), 6).as("js_nats")))
  }

  /** Jensen–Shannon divergence of each source's language mix from the
    * corpus-wide language mix (nats, 0 = identical, ln 2 = disjoint) — the
    * drift metric for "is this source's language profile unlike the rest?".
    * All probabilities divide exact integer counts off ONE (source, lang)
    * aggregate; the grid left-join zero-fills langs a source never emits
    * (those contribute only the global-side term, the standard JS
    * convention p·ln(p/m) → 0 as p → 0). Everything after the count
    * aggregate is dimension-sized. 6 dp rounding absorbs float sum order.
    * The (source, lang, cnt) cell aggregate is a scoped interim (the
    * [[graft.ops.Caching]] contract): four branches read it (per-source
    * totals, per-lang totals, grand total, the grid join), so without the
    * persist the corpus scan runs four times. The entry is dimension-sized
    * (sources × langs); PlanAuditSpec pins one scan. The per-source result
    * is materialized and the caller releases it. */
  def sourceJsDivergence(docs: DataFrame): DataFrame = Caching.scoped { scope =>
    val cell = scope.materialize(
      docs.groupBy("source", "lang").agg(count(lit(1)).as("cnt")))
    val bySource = cell.groupBy("source").agg(sum("cnt").as("n_source"))
    val byLang = cell.groupBy("lang").agg(sum("cnt").as("n_lang"))
    val total = cell.agg(sum("cnt").as("n_total"))
    val grid = bySource.crossJoin(byLang)
      .join(cell, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"), col("n_source"), col("n_lang"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .crossJoin(broadcast(total))
    val p = col("cnt").cast("double") / col("n_source").cast("double")
    val q = col("n_lang").cast("double") / col("n_total").cast("double")
    val m = (p + q) / 2.0
    val term =
      when(p > 0, p * log(p / m)).otherwise(0.0) * 0.5 +
        when(q > 0, q * log(q / m)).otherwise(0.0) * 0.5
    Caching.materialize(grid.groupBy("source")
      .agg(max("n_source").as("n_docs"),
        round(sum(term), 6).as("js_divergence")))
  }

  /** Per-document lexical diversity: token count, distinct types,
    * type–token ratio, and hapax legomena (words occurring once) — the
    * vocabulary-richness signals (low TTR/hapax = templated or repetitive
    * text). One explode + two hash aggregates, all map-side combined; the
    * shuffle key is (doc_id, token) so state is bounded by per-doc
    * vocabulary. Token-free documents drop out (no rows to count),
    * identical to an unnest-based oracle. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(normTokens()).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"),
        round(count(lit(1)).cast("double") / sum("cnt").cast("double"), 6)
          .as("type_token_ratio"))

  /** Corpus cleanup pass: strip control characters, fold common Latin-1
    * accents to ASCII (explicit `translate` table — portable, unlike
    * locale-dependent NFKD normalizers), collapse whitespace runs, trim.
    * Returns the cleaned text plus how many characters the cleanup removed
    * or rewrote — the ingest-side scrub every web corpus runs before
    * tokenization. Pure codegen'd map, zero shuffles. */
  def cleanText(c: Column): Column = {
    val accents    = "áàâäãåéèêëíìîïóòôöõúùûüýÿñçÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÑÇ"
    val replacements = "aaaaaaeeeeiiiiooooouuuuyyncAAAAAAEEEEIIIIOOOOOUUUUYNC"
    val noCtl = regexp_replace(c, "[\\x00-\\x1f\\x7f]+", " ")
    trim(regexp_replace(translate(noCtl, accents, replacements), "\\s+", " "))
  }

  /** [[cleanText]] as a profiling query: per-doc cleaned length and how many
    * characters cleanup changed (0 = already clean). */
  def cleanupProfile(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), length(col("text")).as("raw_len"),
        cleanText(col("text")).as("clean"))
      .select(col("doc_id"), length(col("clean")).as("clean_len"),
        (col("raw_len") - length(col("clean"))).as("n_removed"))

  /** Per-document syllable-complexity profile: total syllables (vowel-group
    * runs per word — the portable approximation), mean syllables per word,
    * and the share of 3+-syllable words. The word-difficulty half of a
    * readability score (the sentence half is [[sentenceStats]]). Explode +
    * one aggregate so the regexp runs once per token; the pattern is
    * RE2-portable. Token-free docs drop out. */
  def syllableComplexity(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(normTokens()).as("tok"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("tok"), lit("[aeiouy]+"), lit(0))).as("syl"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("syl").as("n_syllables"),
        round(sum("syl").cast("double") / count(lit(1)).cast("double"), 6)
          .as("avg_syllables"),
        round(sum(when(col("syl") >= 3, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("polysyllabic_ratio"))
}
