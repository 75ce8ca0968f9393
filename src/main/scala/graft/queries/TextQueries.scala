package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.Analytics
import graft.sim.Similarity
import graft.text.{Dedup, TextFeatures, TextStats}
import Common._

/** Text rows over `documents`: statistics, filters, exact / near-duplicate
  * dedup, the refinery and the language models. */
private[queries] object TextQueries {

  /** DuckDB recomputation of [[graft.text.Dedup.simhash]]'s portable 60-bit
    * fingerprints: the same md5-prefix token hash, 60 conditional bit sums,
    * same >=0 tie convention — bit-for-bit equal by construction. */
  private val simhashSql: String = {
    val bits = graft.text.Dedup.SimhashBits
    val bsums = (0 until bits).map(j =>
      s"sum(CASE WHEN (hh >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val fp = (0 until bits).map(j =>
      s"(CASE WHEN b$j >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"WITH tt AS (SELECT doc_id, list_distinct($toksSql) AS tk FROM documents), " +
      "tok AS (SELECT doc_id, unnest(tk) AS tok FROM tt), " +
      "h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hh FROM tok), " +
      s"b AS (SELECT doc_id, $bsums FROM h GROUP BY doc_id) " +
      s"SELECT doc_id, $fp AS simhash FROM b"
  }

  /** DuckDB CTE chain replaying [[graft.text.LangModel.lmScore]] over the
    * en-trained bigram LM: ends at `sc$sfx` = (doc_id, lp) per scored
    * bigram event, lp in integer micronats. `src` must expose
    * (doc_id, lang, text); `sfx` suffixes every CTE name so the chain can
    * compose with the refinery CTEs (which also define an `sc`). */
  private def lmScoreCtesOver(src: String, sfx: String = ""): String =
    s"t$sfx AS (SELECT doc_id, lang = 'en' AS is_t, $toksSql AS toks FROM $src), " +
      s"p$sfx AS (SELECT doc_id, is_t, unnest(range(len(toks) - 1)) AS i, toks " +
      s"FROM t$sfx WHERE len(toks) >= 2), " +
      s"b$sfx AS (SELECT doc_id, is_t, " +
      "CAST(('0x' || substr(md5(toks[i + 1]), 1, 15)) AS BIGINT) AS w1h, " +
      s"CAST(('0x' || substr(md5(toks[i + 2]), 1, 15)) AS BIGINT) AS w2h FROM p$sfx), " +
      s"c2$sfx AS (SELECT w1h, w2h, count(*) AS c2 FROM b$sfx WHERE is_t GROUP BY 1, 2), " +
      s"c1$sfx AS (SELECT w1h, count(*) AS c1 FROM b$sfx WHERE is_t GROUP BY 1), " +
      s"m2$sfx AS (SELECT w1h, w2h, CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) " +
      s"* 1000000 + 0.5) AS BIGINT) AS lp2 FROM c2$sfx JOIN c1$sfx USING (w1h)), " +
      s"cu$sfx AS (SELECT w2h AS wh, count(*) AS cu FROM b$sfx WHERE is_t GROUP BY 1), " +
      s"tot$sfx AS (SELECT sum(cu) AS nn, count(*) AS vv FROM cu$sfx), " +
      s"uni$sfx AS (SELECT wh, CAST(floor(ln(0.4 * CAST(cu + 1 AS DOUBLE) / " +
      s"CAST(nn + vv AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lp_bo " +
      s"FROM cu$sfx CROSS JOIN tot$sfx), " +
      s"sc$sfx AS (SELECT doc_id, coalesce(lp2, lp_bo, " +
      "CAST(floor(ln(0.4 / CAST(nn + vv AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS lp " +
      s"FROM b$sfx LEFT JOIN m2$sfx USING (w1h, w2h) LEFT JOIN uni$sfx ON b$sfx.w2h = uni$sfx.wh " +
      s"CROSS JOIN tot$sfx WHERE NOT is_t)"

  private def lmScoreCtes = lmScoreCtesOver("documents")

  /** Shared q200/q209 replay: per-doc exact-micronat nll over the en-trained
    * bigram LM (q209's lake save/load roundtrip must land exactly here). */
  private def lmPerplexitySql =
    s"WITH $lmScoreCtes " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
      "CAST(-sum(lp) AS BIGINT) AS nll_micronats, " +
      "CAST(floor(CAST(-sum(lp) AS DOUBLE) / count(*) + 0.5) AS BIGINT) " +
      "AS avg_nll_micronats FROM sc GROUP BY doc_id"

  /** q208's perplexity-tail stage over the gated `gt`: the LM chain with
    * CTE suffix 9, then `tl9` = the worst 30% of docs by avg nll (q201's
    * per-mille cutoff). */
  private def lmTailCtes: String =
    lmScoreCtesOver("gt", "9") + ", " +
      "agg9 AS (SELECT doc_id, CAST(floor(CAST(-sum(lp) AS DOUBLE) / count(*) + 0.5) " +
      "AS BIGINT) AS nll FROM sc9 GROUP BY doc_id), " +
      "rk9 AS (SELECT doc_id, row_number() OVER (ORDER BY nll, doc_id) AS rk, " +
      "count(*) OVER () AS n FROM agg9), " +
      "tl9 AS (SELECT doc_id FROM rk9 WHERE rk > n - floor((n * 300 + 999) / 1000))"

  /** DuckDB CTE chain replaying the Naive Bayes quality classifier trained
    * on en vs non-en docs: ends at `sc$sfx` = (doc_id, w) per hashed gram,
    * w in integer micronats. `src` must expose (doc_id, lang, text); `sfx`
    * suffixes every CTE name as in [[lmScoreCtesOver]]. */
  private def nbScoreCtesOver(src: String, sfx: String = ""): String =
    s"t$sfx AS (SELECT doc_id, lang = 'en' AS is_p, lang <> 'en' AS is_n, " +
      s"$toksSql AS toks FROM $src), " +
      s"g$sfx AS (SELECT doc_id, is_p, is_n, " +
      "CAST(('0x' || substr(md5(gr), 1, 15)) AS BIGINT) % 262144 AS bh " +
      "FROM (SELECT doc_id, is_p, is_n, unnest(toks || " +
      s"list_transform(range(len(toks) - 1), j -> toks[j + 1] || ' ' || toks[j + 2])) AS gr FROM t$sfx)), " +
      s"bc$sfx AS (SELECT bh, CAST(sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS cp, " +
      "CAST(sum(CASE WHEN is_n THEN 1 ELSE 0 END) AS BIGINT) AS cn " +
      s"FROM g$sfx WHERE is_p OR is_n GROUP BY 1), " +
      s"tot$sfx AS (SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn FROM bc$sfx), " +
      s"wt$sfx AS (SELECT bh, CAST(floor(ln(CAST(cp + 1 AS DOUBLE) * CAST(nn + 262144 AS DOUBLE) / " +
      "(CAST(cn + 1 AS DOUBLE) * CAST(np + 262144 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS w " +
      s"FROM bc$sfx CROSS JOIN tot$sfx), " +
      s"sc$sfx AS (SELECT doc_id, coalesce(w, " +
      "CAST(floor(ln(CAST(0 + 1 AS DOUBLE) * CAST(nn + 262144 AS DOUBLE) / " +
      "(CAST(0 + 1 AS DOUBLE) * CAST(np + 262144 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT)) AS w " +
      s"FROM g$sfx LEFT JOIN wt$sfx USING (bh) CROSS JOIN tot$sfx)"

  /** q190's DSIR chain over `t(doc_id, is_t, toks)`: hashed bigram buckets
    * `bk`, per-bucket log importance ratio `lr` in micronats, and the
    * per-doc raw-pool bucket counts `dc`. */
  private def dsirWeightCtes: String =
    "g2 AS (SELECT doc_id, is_t, unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')] " +
      "ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END) AS g FROM t), " +
      "bk AS (SELECT doc_id, is_t, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 1024 AS b FROM g2), " +
      "st AS (SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct, " +
      "sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr FROM bk GROUP BY 1), " +
      "tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM st), " +
      "lr AS (SELECT b, CAST(floor(ln( " +
      "(CAST(ct + 1 AS DOUBLE) * CAST(tr + 1024 AS DOUBLE)) / " +
      "(CAST(cr + 1 AS DOUBLE) * CAST(tt + 1024 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS lr " +
      "FROM st CROSS JOIN tot), " +
      "dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt FROM bk WHERE NOT is_t GROUP BY 1, 2)"

  /** q179's Gopher metric columns over a documents row, ending in a space
    * so a FROM clause can follow. */
  private def gopherMetricCols: String =
    s"CAST(len($toksSql) AS BIGINT) AS n_words, " +
      s"CAST(list_sum(list_transform($toksSql, t -> strlen(t))) AS BIGINT) AS sum_word_chars, " +
      s"CAST(strlen($normSql) - strlen(replace($normSql, '#', '')) " +
      s"+ (strlen($normSql) - strlen(replace($normSql, '...', ''))) // 3 AS BIGINT) AS n_symbols, " +
      s"CAST(len(list_filter($toksSql, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha_words, " +
      s"CAST(len(list_filter(['the','be','to','of','and','that','have','with'], " +
      s"s -> list_contains($toksSql, s))) AS BIGINT) AS n_stop_words, " +
      "CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines, " +
      "CAST(len(list_filter(string_split(text, chr(10)), " +
      "l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*'))) AS BIGINT) AS n_bullet_lines, " +
      "CAST(len(list_filter(string_split(text, chr(10)), " +
      "l -> ends_with(trim(l), '...'))) AS BIGINT) AS n_ellipsis_lines "

  /** q172's decontamination grams: `e(doc_id, g)` = each doc's distinct
    * 4-grams, `b(g)` = those of the doc_id % 37 = 0 benchmark slice. */
  private def benchGramCtes: String =
    s"t AS (SELECT doc_id, $toksSql AS toks FROM documents), " +
      "g4 AS (SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')] " +
      "ELSE list_transform(range(len(toks) - 3), i -> array_to_string(toks[i+1:i+4], ' ')) END AS gs FROM t), " +
      "e AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM g4), " +
      "b AS (SELECT DISTINCT g FROM e WHERE doc_id % 37 = 0)"

  /** q182's directional containment over [[Common.shingleCtes]]' `e`: DF
    * prune at 1000, shared-gram counts per pair, pairs where either side
    * is >= 0.5 contained. Ends the query. */
  private def containmentPairsSql: String =
    "dfq AS (SELECT g, count(*) AS df FROM e GROUP BY 1), " +
      "k AS (SELECT e.doc_id, e.g FROM e JOIN dfq USING (g) WHERE df <= 1000), " +
      "ksz AS (SELECT doc_id, count(*) AS sz FROM k GROUP BY 1), " +
      "sh AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared " +
      "FROM k x JOIN k y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, n_shared, CAST(a.sz AS BIGINT) AS sz_a, CAST(b.sz AS BIGINT) AS sz_b, " +
      "round(CAST(n_shared AS DOUBLE) / CAST(a.sz AS DOUBLE), 6) AS containment_a, " +
      "round(CAST(n_shared AS DOUBLE) / CAST(b.sz AS DOUBLE), 6) AS containment_b " +
      "FROM sh JOIN ksz a ON sh.doc_a = a.doc_id JOIN ksz b ON sh.doc_b = b.doc_id " +
      "WHERE greatest(CAST(n_shared AS DOUBLE) / CAST(a.sz AS DOUBLE), " +
      "CAST(n_shared AS DOUBLE) / CAST(b.sz AS DOUBLE)) >= 0.5"

  /** The refinery's exact-dedup keepers `kd` of the gated `src(doc_id,
    * source, text)` (min id per normalized text), with their brute-force
    * shingle pair CTEs. */
  private def refineryKeepersCtes(src: String): String =
    s"nrm AS (SELECT doc_id, $normSql AS norm FROM $src), " +
      "k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY norm), " +
      s"kd AS (SELECT $src.doc_id, $src.source, $src.text FROM $src JOIN k USING (doc_id)), " +
      shingleCtes("kd") + s", $shinglePairCtes"

  /** The near-dup closure over [[Common.shinglePairCtes]]' `sc`: `edges` =
    * pairs at shingle Jaccard >= `threshold`, closed by
    * [[Common.docPairClosureCtes]]. */
  private def nearDupClosureCtes(threshold: String): String =
    "edges AS (SELECT doc_a, doc_b FROM sc " +
      s"WHERE (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= $threshold), " +
      docPairClosureCtes

  /** `kept`: the refinery keepers `kd` the near-dup closure did not remove. */
  private def keptCte: String =
    "kept AS (SELECT kd.doc_id, kd.source, kd.text FROM kd " +
      "LEFT JOIN removed ON kd.doc_id = removed.n WHERE removed.n IS NULL)"

  /** The refinery's containment stage over `kept` (q182's arithmetic, DF
    * prune at 1000): `crm` = the contained side of every pair at >= 0.8,
    * the larger id when both sides are. */
  private def containmentDropCtes: String =
    "ke AS (SELECT e.doc_id, e.g FROM e JOIN kept USING (doc_id)), " +
      "cdf AS (SELECT g, count(*) AS df FROM ke GROUP BY 1), " +
      "ck AS (SELECT ke.doc_id, ke.g FROM ke JOIN cdf USING (g) WHERE df <= 1000), " +
      "csz AS (SELECT doc_id, count(*) AS csn FROM ck GROUP BY 1), " +
      "csh AS (SELECT x.doc_id AS ca, y.doc_id AS cb, count(*) AS ns " +
      "FROM ck x JOIN ck y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
      "cpr AS (SELECT ca, cb, " +
      "CAST(ns AS DOUBLE) / CAST(a.csn AS DOUBLE) AS conta, " +
      "CAST(ns AS DOUBLE) / CAST(b.csn AS DOUBLE) AS contb " +
      "FROM csh JOIN csz a ON ca = a.doc_id JOIN csz b ON cb = b.doc_id), " +
      "crm AS (SELECT DISTINCT CASE WHEN conta >= 0.8 AND contb >= 0.8 THEN cb " +
      "WHEN conta >= 0.8 THEN ca ELSE cb END AS doc_id FROM cpr " +
      "WHERE conta >= 0.8 OR contb >= 0.8)"

  /** q94's chunk plan over `src(doc_id, n_tokens)`: 128-token windows at
    * stride 96. Ends the query. */
  private def chunkPlanSql(src: String): String =
    "c AS (SELECT doc_id, n_tokens, CAST(i AS INTEGER) AS chunk_idx " +
      s"FROM $src, unnest(generate_series(0, (n_tokens - 1) // 96)) AS u(i) " +
      "WHERE n_tokens >= 1) " +
      "SELECT doc_id, n_tokens, chunk_idx, " +
      "CAST(chunk_idx * 96 AS INTEGER) AS start_tok, " +
      "CAST(least(128, n_tokens - chunk_idx * 96) AS INTEGER) AS chunk_len FROM c"

  /** The refinery's tail over its survivors `src(doc_id, source, text)`:
    * md5-rank source cap, then [[chunkPlanSql]]. Ends the query. */
  private def capChunkSql(src: String): String =
    "capped AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
      "row_number() OVER (PARTITION BY source " +
      s"ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM $src) WHERE rn <= 1000000), " +
      s"tt2 AS (SELECT doc_id, CAST(len($toksSql) AS INTEGER) AS n_tokens FROM capped), " +
      chunkPlanSql("tt2")

  /** q202's waterfill over per-source caps `ps$sfx(source, cap_tokens)`:
    * `th$sfx.theta` = the level at which the capped sources fill `budget`
    * tokens, null when the caps cannot. */
  private def waterfillCtes(sfx: String, budget: Int): String =
    s"rk$sfx AS (SELECT *, coalesce(sum(cap_tokens) OVER (ORDER BY cap_tokens, source " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix_excl, " +
      "count(*) OVER (ORDER BY cap_tokens, source " +
      s"ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS remaining FROM ps$sfx), " +
      s"th$sfx AS (SELECT max(CASE WHEN prefix_excl + remaining * cap_tokens >= $budget " +
      s"THEN CAST($budget - prefix_excl AS DOUBLE) / CAST(remaining AS DOUBLE) END) " +
      s"AS theta FROM rk$sfx)"

  /** q210's per-document plan over `t0(doc_id, source, nt)` and the
    * allocation `al(source, t_tokens, alloc_tokens)`: whole epochs, plus one
    * more copy while the seeded md5 order is under the remainder. Ends the
    * query. */
  private def samplePlanSql(al: String): String =
    "pd AS (SELECT t0.doc_id, t0.source, t0.nt AS n_tokens, " +
      s"$al.alloc_tokens // $al.t_tokens AS whole_epochs, " +
      s"$al.alloc_tokens - ($al.alloc_tokens // $al.t_tokens) * $al.t_tokens AS rem_tokens " +
      s"FROM t0 JOIN $al USING (source)), " +
      "cb AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source " +
      "ORDER BY md5('budget1' || CAST(doc_id AS VARCHAR)), doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM pd) " +
      "SELECT doc_id, source, n_tokens, " +
      "CAST(whole_epochs + CASE WHEN cum_before < rem_tokens THEN 1 ELSE 0 END " +
      "AS BIGINT) AS n_copies FROM cb " +
      "WHERE whole_epochs + (CASE WHEN cum_before < rem_tokens THEN 1 ELSE 0 END) > 0"

  /** Shared q212/q214 replay: hashed unigram+bigram gram stream (60-bit
    * md5 token hash folded mod 2^18), per-bucket Laplace log-odds
    * quantized once to micronats (double products of longs — the exact
    * Spark spelling), every doc scored by the exact long sum. q214's lake
    * save/load roundtrip must land exactly here. */
  private def nbClassifierSql =
    s"WITH ${nbScoreCtesOver("documents")} " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
      "CAST(sum(w) AS BIGINT) AS score_micronats, " +
      "CAST(floor(CAST(sum(w) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS avg_micronats " +
      "FROM sc GROUP BY doc_id"

  def specs: Seq[QuerySpec] = Seq(
    // --- text analysis [ext] ---
    QuerySpec("q19_exact_dedup_stats", { (s, d) =>
      val docs = t(s, d, "documents")
      val groups = Dedup.exactDupGroups(docs)
      groups.agg(
        sum("n_copies").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n_copies") > 1, col("n_copies") - 1).otherwise(0L)).as("n_redundant"))
    },
      (s"WITH g AS (SELECT min(doc_id) AS keeper_id, count(*) AS n_copies FROM documents GROUP BY $normSql) " +
        "SELECT CAST(sum(n_copies) AS BIGINT) AS n_docs, count(*) AS n_distinct, " +
        "CAST(sum(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT) AS n_redundant FROM g")),
    QuerySpec("q20_token_stats", ((s, d) => TextStats.tokenStats(t(s, d, "documents"))),
      ("""SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens, """ +
        """CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_chars_nospace, """ +
        """CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS avg_token_len """ +
        "FROM documents")),
    QuerySpec("q21_quality_score", ((s, d) => TextStats.qualityScore(t(s, d, "documents"))),
      (s"WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents) " +
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio, " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio, " +
        "least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS length_score, " +
        "CAST(CASE WHEN len(toks) >= 20 AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.2 " +
        "THEN 1 ELSE 0 END AS BIGINT) AS passes_filter FROM t")),
    QuerySpec("q22_lang_source_dist", ((s, d) =>
      t(s, d, "documents").groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))),
      "SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY lang, source"),
    QuerySpec("q23_word_jaccard_pairs", ((s, d) =>
      Dedup.blockedJaccardPairs(t(s, d, "documents"), Seq("lang", "n_chars"), 0.3)),
      (s"WITH w AS (SELECT doc_id, lang, n_chars, list_distinct($toksSql) AS w FROM documents), " +
        "p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, " +
        "CAST(len(list_intersect(x.w, y.w)) AS DOUBLE) AS i, " +
        "CAST(len(x.w) + len(y.w) AS DOUBLE) - CAST(len(list_intersect(x.w, y.w)) AS DOUBLE) AS u " +
        "FROM w x JOIN w y ON x.lang = y.lang AND x.n_chars = y.n_chars AND x.doc_id < y.doc_id) " +
        "SELECT doc_a, doc_b, CASE WHEN u = 0 THEN 1.0 ELSE i / u END AS jaccard FROM p " +
        "WHERE (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.3")),
    // Spark runs the banded LSH scale plan; the oracle spells the SAME
    // result as brute-force shingle Jaccard (the verify stage is exact, so
    // the sets match — see Dedup.minhashNearDupsShingle)
    QuerySpec("q24_minhash_neardups", ((s, d) =>
      Dedup.minhashNearDupsShingle(t(s, d, "documents"), threshold = 0.8)),
      // Spark runs banded MinHash LSH + exact shingle verify; the verify is
      // exact and banding misses a true pair with probability ~5e-8 at the
      // 0.8 threshold (128 perms / 32 bands — see minhashNearDupsShingle), so
      // the result SET equals brute force on this corpus (corpus-verified,
      // not guaranteed: equality is probabilistic by construction) — which is
      // what this oracle spells (no LSH anywhere in it)
      (s"WITH ${shingleCtes("documents")}, $shinglePairCtes " +
        "SELECT doc_a, doc_b, CASE WHEN u = 0 THEN 1.0 ELSE i / u END AS jaccard FROM sc " +
        "WHERE (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.8")),
    // portable 60-bit fingerprints: the oracle recomputes every bit in SQL
    QuerySpec("q25_simhash", ((s, d) => Dedup.simhash(t(s, d, "documents"))),
      // full bit-for-bit fingerprint recomputation (portable md5-prefix hash)
      simhashSql),
    QuerySpec("q26_doc_fingerprint", ((s, d) => TextStats.fingerprints(t(s, d, "documents"))),
      (s"SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(string_split($normSql, ''), c -> CAST(ord(c) AS BIGINT))), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint FROM documents")),
    QuerySpec("q27_language_id", ((s, d) => TextStats.languageId(t(s, d, "documents"))),
      {
      val langs = graft.text.TextStats.defaultProfiles.toSeq.sortBy(_._1)
      def score(l: String) = s"s_$l"
      val scores = langs.map { case (l, ws) =>
        s"len(list_intersect(toks, [${ws.map(w => s"'$w'").mkString(",")}])) AS ${score(l)}"
      }.mkString(", ")
      val names = langs.map(_._1)
      val cases = names.zipWithIndex.map { case (l, i) =>
        val rest = names.drop(i + 1)
        if (rest.isEmpty) s"ELSE '$l'"
        else s"WHEN ${rest.map(r => s"${score(l)} >= ${score(r)}").mkString(" AND ")} THEN '$l'"
      }.mkString(" ")
      s"WITH t AS (SELECT doc_id, lang, list_distinct($toksSql) AS toks FROM documents), " +
        s"s AS (SELECT doc_id, lang AS labeled_lang, $scores FROM t) " +
        s"SELECT doc_id, labeled_lang, CASE WHEN greatest(${names.map(score).mkString(",")}) = 0 " +
        s"THEN 'und' $cases END AS predicted_lang FROM s"
    }),
    // --- end-to-end corpus dedup [ext]: the shingle-verified pipeline is
    // deterministic end to end, so the oracle replays it declaratively
    // (brute-force shingle pairs + recursive-CTE component closure) ---
    QuerySpec("q43_dedup_corpus", { (s, d) =>
      val docs = t(s, d, "documents")
      val kept = Dedup.dedupCorpusShingle(docs, threshold = 0.8)
      docs.agg(count(lit(1)).as("n_input")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept")))
    },
      // exact-dedup keepers by normalized text, brute-force shingle pairs at
      // the threshold, recursive-CTE transitive closure, keep min-id per
      // component
      ("WITH RECURSIVE nrm AS (SELECT doc_id, " + normSql + " AS norm FROM documents), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY norm), " +
        shingleCtes("(SELECT d.doc_id, d.text FROM documents d JOIN k USING (doc_id))") +
        s", $shinglePairCtes, " +
        s"${nearDupClosureCtes("0.8")}, $removedCte " +
        "SELECT (SELECT count(*) FROM documents) AS n_input, " +
        "CAST((SELECT count(*) FROM k) - (SELECT count(*) FROM removed) AS BIGINT) AS n_kept")),
    // banded pigeonhole blocking == brute-force all-pairs hamming (exact
    // verify, no false negatives); the oracle spells the brute force over
    // the portable fingerprints
    QuerySpec("q45_simhash_neardups", ((s, d) =>
      Dedup.simhashNearDups(t(s, d, "documents"), maxHamming = 3, bands = 4)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast("int").as("hamming"))),
      (s"WITH f AS ($simhashSql) " +
        "SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, " +
        "CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming " +
        "FROM f x JOIN f y ON x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.simhash, y.simhash)) <= 3")),
    // --- tf-idf doc similarity [ext]: the PORTABLE pipeline (md5-prefix
    // feature hash, floor-rounded IDF, unnormalized double vectors) makes
    // the whole embedding + cosine top-k bit-reproducible in SQL, so the
    // oracle rebuilds it end to end — no gate needed.
    // corpus and probes share the TF-IDF lineage — the operator returns a
    // materialized frame (Caching.materialize), so both branches read the
    // same cache entry without a second persist here ---
    QuerySpec("q44_tfidf_doc_similarity", { (s, d) =>
      val emb = graft.text.TextFeatures.tfidfEmbeddingsPortable(
        t(s, d, "documents"), numFeatures = 256)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 200), 3)
    },
      // full bit-for-bit replay of the portable tf-idf pipeline: same feature
      // hash, same floor-rounded IDF, same dense assembly, q28's cosine top-k
      (s"WITH tt AS (SELECT doc_id, $toksSql AS toks FROM documents), " +
        "tok AS (SELECT doc_id, CAST(CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) % 256 AS INTEGER) AS feat " +
        "FROM (SELECT doc_id, unnest(toks) AS tk FROM tt)), " +
        "tf AS (SELECT doc_id, feat, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dft AS (SELECT feat, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1), " +
        "m AS (SELECT count(*) AS m FROM documents), " +
        "w AS (SELECT doc_id, feat, CAST(tf AS DOUBLE) * " +
        "(floor(ln(CAST(m + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0) AS w " +
        "FROM tf JOIN dft USING (feat) CROSS JOIN m), " +
        "vec AS (SELECT doc_id, map(list(feat), list(w)) AS mp FROM w GROUP BY doc_id), " +
        "dense AS (SELECT doc_id AS vec_id, " +
        "list_transform(range(256), i -> coalesce(map_extract(mp, i)[1], 0.0)) AS v FROM vec), " +
        "s AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
        s"${cosSql("p.v", "c.v")} AS cos_sim " +
        "FROM dense p JOIN dense c ON p.vec_id < 200 AND p.vec_id != c.vec_id), " +
        "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn FROM s) " +
        "SELECT probe_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 3")),
    // --- PII scrub (emails/phones -> typed placeholders); the corpus is
    // synthetic so deterministic PII is appended first, then redacted ---
    QuerySpec("q61_pii_redaction", ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextStats.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com or +1 555 867 530"), col("doc_id"),
          lit(" via https://tracker.example.com/u/"), col("doc_id"))).as("clean_text"))),
      ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        "text || ' contact user' || doc_id || '@example.com or +1 555 867 530' || doc_id " +
        "|| ' via https://tracker.example.com/u/' || doc_id, " +
        s"'${graft.text.TextStats.UrlRe}', '<URL>', 'g'), " +
        s"'${graft.text.TextStats.EmailRe}', '<EMAIL>', 'g'), " +
        s"'${graft.text.TextStats.PhoneRe}', '<PHONE>', 'g') AS clean_text " +
        "FROM documents")),
    // --- corpus vocabulary: top terms by frequency (explode + agg + top-k) ---
    QuerySpec("q62_top_terms", ((s, d) =>
      TextStats.termFrequencies(t(s, d, "documents"))
        .orderBy(desc("n_occurrences"), asc("token")).limit(20)),
      (s"SELECT token, count(*) AS n_occurrences FROM (SELECT unnest($toksSql) AS token FROM documents) " +
        "GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 20")),
    // --- BPE-ish token counting (LLM-cost estimation companion to q20) ---
    QuerySpec("q63_bpe_token_count", ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextStats.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"))),
      (s"SELECT doc_id, CAST(len(regexp_extract_all(text, '${graft.text.TextStats.BpeTokenRe.replace("'", "''")}')) AS INTEGER) AS n_bpe_tokens, " +
        """CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens FROM documents""")),
    // --- posexplode: generator with ordinal (§2.9 UDTF surface) ---
    QuerySpec("q69_posexplode_tokens", ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(slice(TextStats.normTokens(), 1, 3)))
        .withColumnRenamed("col", "token")),
      (s"WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents), " +
        "e AS (SELECT doc_id, unnest(list_transform(generate_series(1, least(3, len(toks))), " +
        "i -> {'pos': i - 1, 'tok': toks[i]})) AS u FROM t) " +
        "SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.tok AS token FROM e")),
    // --- deterministic cross-engine hash sampling (stable held-out splits) ---
    QuerySpec("q74_hash_sample", ((s, d) =>
      Analytics.hashSample(t(s, d, "documents"), "doc_id", 2)
        .select("doc_id", "lang", "source", "n_chars")),
      ("SELECT doc_id, lang, source, n_chars FROM documents " +
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')")),
    // --- bigram repetition filter (Gopher-style pretraining quality gate) ---
    QuerySpec("q78_repetition_ratio", ((s, d) =>
      TextStats.repetitionRatio(t(s, d, "documents"))),
      (s"WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) " +
        "ELSE list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1]) END AS grams FROM t) " +
        "SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_bigrams, " +
        "CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_bigrams, " +
        "CASE WHEN len(grams) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE) END AS repetition_ratio " +
        "FROM g")),
    // --- train/eval decontamination by 8-gram overlap (hash-keyed join) ---
    QuerySpec("q93_decontamination", ((s, d) =>
      Dedup.crossSplitContamination(t(s, d, "documents"))),
      (s"WITH t AS (SELECT doc_id, $toksSql AS toks, " +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS nib FROM documents), " +
        "s AS (SELECT doc_id, nib IN ('0','1') AS is_eval, " +
        "array_to_string(toks[i:i+7], ' ') AS sh " +
        "FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)), " +
        "e AS (SELECT DISTINCT doc_id, sh FROM s WHERE is_eval), " +
        "tr AS (SELECT DISTINCT sh FROM s WHERE NOT is_eval) " +
        "SELECT e.doc_id, count(*) AS n_shingles, count(tr.sh) AS n_shared, " +
        "(count(tr.sh) > 0) AS contaminated " +
        "FROM e LEFT JOIN tr ON e.sh = tr.sh GROUP BY e.doc_id")),
    // --- fixed-window token chunking with stride (context-window prep) ---
    QuerySpec("q94_token_chunks", ((s, d) =>
      TextFeatures.chunkPlan(t(s, d, "documents"))),
      (s"WITH t AS (SELECT doc_id, CAST(len($toksSql) AS INTEGER) AS n_tokens " +
        "FROM documents), " +
        chunkPlanSql("t"))),
    // --- greedy sequence packing per corpus source (running-sum window) ---
    QuerySpec("q95_sequence_packing", ((s, d) =>
      TextFeatures.packingPlan(t(s, d, "documents"))),
      (s"WITH t AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, sum(n_tokens) OVER (" +
        "PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t) " +
        "SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens, " +
        "CAST((cum - n_tokens) // 4096 AS BIGINT) AS start_bin, " +
        "CAST((cum - 1) // 4096 AS BIGINT) AS end_bin FROM c")),
    // --- regex pattern mining over the corpus (RE2-portable) ---
    QuerySpec("q98_regex_matches", ((s, d) =>
      TextStats.regexMatches(t(s, d, "documents"), "\\b[aeiou][a-z]{3,}\\b")),
      (s"SELECT doc_id, CAST(len(regexp_extract_all($normSql, " +
        """'\b[aeiou][a-z]{3,}\b')) AS INTEGER) AS n_matches, """ +
        s"regexp_extract_all($normSql, " +
        """'\b[aeiou][a-z]{3,}\b')[1] AS first_match FROM documents""")),
    // --- per-source cap (data-mixing / source balancing, deterministic) ---
    QuerySpec("q100_per_source_cap", ((s, d) =>
      TextFeatures.perSourceCap(t(s, d, "documents"), 40)),
      ("SELECT doc_id, source, CAST(rn AS INTEGER) AS sample_rank FROM (" +
        "SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) t " +
        "WHERE rn <= 40")),
    // --- source upsampling (the mixture-weighting half of data mixing) ---
    QuerySpec("q101_source_upsample", ((s, d) =>
      TextFeatures.sourceUpsample(t(s, d, "documents"),
        Map("src0" -> 3, "src1" -> 2))),
      ("SELECT doc_id, source, CAST(i AS INTEGER) AS copy_idx FROM documents, " +
        "unnest(generate_series(1, CASE WHEN source = 'src0' THEN 3 " +
        "WHEN source = 'src1' THEN 2 ELSE 1 END)) AS u(i)")),
    // --- corpus mixture diversity: source-distribution entropy ---
    QuerySpec("q109_source_entropy", ((s, d) =>
      TextStats.sourceEntropy(t(s, d, "documents"))),
      ("WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source), " +
        "p AS (SELECT cnt, CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER () AS DOUBLE) AS p FROM c) " +
        "SELECT count(*) AS n_sources, round(-sum(p * ln(p)), 6) AS entropy_nats FROM p")),
    // --- dedup observability: histogram of exact-duplicate cluster sizes ---
    QuerySpec("q111_dup_cluster_sizes", ((s, d) =>
      Dedup.exactDupGroups(t(s, d, "documents"))
        .groupBy("n_copies").agg(count(lit(1)).as("n_groups"))),
      // exact-dup groups keyed on the normalized TEXT here; the engine keys on
      // its 128-bit hash — identical grouping barring a ~2^-128 collision
      (s"WITH g AS (SELECT $normSql AS norm, count(*) AS n_copies " +
        "FROM documents GROUP BY 1) " +
        "SELECT n_copies, count(*) AS n_groups FROM g GROUP BY n_copies")),
    // --- char-level entropy (random/base64 garbage detector) ---
    QuerySpec("q113_char_entropy", ((s, d) =>
      TextStats.charEntropy(t(s, d, "documents"))),
      (s"WITH ch AS (SELECT doc_id, c AS ch FROM (SELECT doc_id, " +
        s"string_split($normSql, '') AS cs FROM documents) t, unnest(cs) AS u(c) " +
        "WHERE c <> ''), " +
        "cnt AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY 1, 2), " +
        "wt AS (SELECT doc_id, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS tot FROM cnt) " +
        "SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars, " +
        "round(-sum((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) * " +
        "ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))), 6) AS char_entropy " +
        "FROM wt GROUP BY doc_id")),
    // --- per-source quality dashboard (mixture QA rollup) ---
    QuerySpec("q114_source_quality", ((s, d) =>
      TextStats.sourceQualityProfile(t(s, d, "documents"))),
      (s"WITH q AS (SELECT source, CAST(len(toks) AS DOUBLE) AS n_tokens, " +
        "CASE WHEN len(toks) >= 20 AND " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.2 " +
        "THEN 1 ELSE 0 END AS passes " +
        s"FROM (SELECT source, $toksSql AS toks FROM documents) t) " +
        "SELECT source, count(*) AS n_docs, " +
        "round(CAST(sum(passes) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS pass_rate, " +
        "round(avg(n_tokens), 6) AS avg_tokens FROM q GROUP BY source")),
    // --- sentence segmentation stats (text shape signal) ---
    QuerySpec("q127_sentence_stats", ((s, d) =>
      TextStats.sentenceStats(t(s, d, "documents"))),
      ("WITH s AS (SELECT doc_id, list_filter(list_transform(" +
        "regexp_split_to_array(text, '[.!?]+'), x -> trim(x)), x -> len(x) > 0) AS sents " +
        "FROM documents) " +
        "SELECT doc_id, CAST(len(sents) AS INTEGER) AS n_sentences, " +
        "CASE WHEN len(sents) > 0 THEN " +
        "round(CAST(list_sum(list_transform(sents, x -> len(x))) AS DOUBLE) / " +
        "CAST(len(sents) AS DOUBLE), 4) END AS avg_sentence_chars FROM s")),
    // --- Zipf-law vocabulary fit (templated-text detector) ---
    QuerySpec("q133_zipf_slope", ((s, d) =>
      TextStats.zipfSlope(t(s, d, "documents"))),
      (s"WITH tf AS (SELECT token, count(*) AS n_occurrences FROM " +
        s"(SELECT unnest($toksSql) AS token FROM documents) GROUP BY token), " +
        "r AS (SELECT token, n_occurrences, row_number() OVER " +
        "(ORDER BY n_occurrences DESC, token) AS rank FROM tf) " +
        "SELECT count(*) AS n_terms, " +
        "round(regr_slope(ln(n_occurrences), ln(rank)), 6) AS zipf_slope, " +
        "round(regr_r2(ln(n_occurrences), ln(rank)), 6) AS fit_r2 " +
        "FROM r WHERE rank <= 200")),
    // --- temperature-based source mixture plan (n^alpha rebalancing) ---
    QuerySpec("q134_temperature_mixture", ((s, d) =>
      TextFeatures.temperatureMixture(t(s, d, "documents"))),
      ("WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source), " +
        "w AS (SELECT source, n_docs, " +
        "round(pow(CAST(n_docs AS DOUBLE), 0.7) / " +
        "sum(pow(CAST(n_docs AS DOUBLE), 0.7)) OVER (), 6) AS weight, " +
        "CAST(sum(n_docs) OVER () AS BIGINT) AS total FROM c) " +
        "SELECT source, n_docs, weight, " +
        "CAST(floor(weight * CAST(total AS DOUBLE) + 0.5) AS BIGINT) AS target_docs FROM w")),
    // --- deterministic round-robin source interleave (no global sort) ---
    QuerySpec("q135_interleave_plan", ((s, d) =>
      TextFeatures.interleavePlan(t(s, d, "documents"))),
      ("WITH s AS (SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT) " +
        "AS source_idx FROM (SELECT DISTINCT source FROM documents)), " +
        "n AS (SELECT count(*) AS ns FROM s), " +
        "r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn FROM documents) " +
        "SELECT doc_id, r.source, rn, (rn - 1) * ns + source_idx - 1 AS epoch_pos " +
        "FROM r JOIN s ON r.source = s.source CROSS JOIN n")),
    // --- exists/forall/filter HOF predicates over token arrays ---
    QuerySpec("q137_hof_predicates", { (s, d) =>
      val toks = TextStats.normTokens()
      t(s, d, "documents").select(col("doc_id"),
        exists(toks, tk => tk === "the").as("has_the"),
        forall(toks, tk => length(tk) <= 15).as("all_short"),
        size(filter(toks, tk => length(tk) >= 8)).as("n_long"))
    },
      (s"WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents) " +
        "SELECT doc_id, " +
        "len(list_filter(toks, x -> x = 'the')) > 0 AS has_the, " +
        "len(list_filter(toks, x -> len(x) > 15)) = 0 AS all_short, " +
        "CAST(len(list_filter(toks, x -> len(x) >= 8)) AS INTEGER) AS n_long FROM t")),
    // --- collocation mining: adjacent-bigram PMI [ext] ---
    QuerySpec("q142_bigram_pmi", ((s, d) =>
      TextStats.bigramPmi(t(s, d, "documents"), minCount = 5, topN = 30)),
      (s"WITH t AS (SELECT $toksSql AS ts FROM documents), " +
        "bg AS (SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS p FROM t), " +
        "bc AS (SELECT p[1] AS tok_a, p[2] AS tok_b, count(*) AS n_ab " +
        "FROM bg GROUP BY 1, 2), " +
        "uc AS (SELECT unnest(ts) AS tok FROM t), " +
        "ug AS (SELECT tok, count(*) AS n_tok FROM uc GROUP BY tok), " +
        "tot AS (SELECT (SELECT sum(n_ab) FROM bc) AS nb, (SELECT sum(n_tok) FROM ug) AS nt) " +
        "SELECT tok_a, tok_b, n_ab, " +
        "round(ln((CAST(n_ab AS DOUBLE) / CAST(nb AS DOUBLE)) / " +
        "((CAST(a.n_tok AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
        "(CAST(b.n_tok AS DOUBLE) / CAST(nt AS DOUBLE)))), 6) AS pmi " +
        "FROM bc JOIN ug a ON bc.tok_a = a.tok JOIN ug b ON bc.tok_b = b.tok " +
        "CROSS JOIN tot WHERE n_ab >= 5 " +
        "ORDER BY pmi DESC, tok_a, tok_b LIMIT 30")),
    // --- mixture drift: per-source JS divergence from the corpus [ext] ---
    QuerySpec("q147_source_js_divergence", ((s, d) =>
      TextStats.sourceJsDivergence(t(s, d, "documents"))),
      ("WITH cell AS (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2), " +
        "s AS (SELECT source, sum(cnt) AS n_source FROM cell GROUP BY source), " +
        "l AS (SELECT lang, sum(cnt) AS n_lang FROM cell GROUP BY lang), " +
        "tt AS (SELECT sum(cnt) AS n_total FROM cell), " +
        "grid AS (SELECT s.source, l.lang, s.n_source, l.n_lang, " +
        "coalesce(cell.cnt, 0) AS cnt FROM s CROSS JOIN l " +
        "LEFT JOIN cell ON cell.source = s.source AND cell.lang = l.lang), " +
        "terms AS (SELECT source, n_source, " +
        "CAST(cnt AS DOUBLE) / CAST(n_source AS DOUBLE) AS p, " +
        "CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE) AS q FROM grid CROSS JOIN tt) " +
        "SELECT source, CAST(max(n_source) AS BIGINT) AS n_docs, " +
        "round(sum((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END) * 0.5 + " +
        "(CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END) * 0.5), 6) " +
        "AS js_divergence FROM terms GROUP BY source")),
    // --- lexical diversity: TTR + hapax legomena [ext] ---
    QuerySpec("q149_lexical_diversity", ((s, d) =>
      TextStats.lexicalDiversity(t(s, d, "documents"))),
      (s"WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents), " +
        "c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens, " +
        "CAST(count(*) AS BIGINT) AS n_types, " +
        "CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, " +
        "round(CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) " +
        "AS type_token_ratio FROM c GROUP BY doc_id")),
    // --- boilerplate-prefix census [ext] ---
    QuerySpec("q150_prefix_dups", ((s, d) =>
      Dedup.prefixDupStats(t(s, d, "documents"))),
      (s"WITH k AS (SELECT array_to_string(($toksSql)[1:16], ' ') AS pk FROM documents), " +
        "g AS (SELECT pk, count(*) AS n FROM k GROUP BY pk) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_dup_groups, " +
        "CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs_in_groups, " +
        "CAST(coalesce(max(n), 0) AS BIGINT) AS max_group FROM g WHERE n > 1")),
    // --- syllable complexity (readability word half) [ext] ---
    QuerySpec("q151_syllable_complexity", ((s, d) =>
      TextStats.syllableComplexity(t(s, d, "documents"))),
      (s"WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents), " +
        "s AS (SELECT doc_id, len(regexp_extract_all(tok, '[aeiouy]+')) AS syl FROM tok) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(syl) AS BIGINT) AS n_syllables, " +
        "round(CAST(sum(syl) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_syllables, " +
        "round(CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS polysyllabic_ratio FROM s GROUP BY doc_id")),
    // --- corpus cleanup: control chars / accents / whitespace [ext] ---
    QuerySpec("q155_text_cleanup", ((s, d) =>
      TextStats.cleanupProfile(t(s, d, "documents"))),
      {
      val accents      = "áàâäãåéèêëíìîïóòôöõúùûüýÿñçÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÑÇ"
      val replacements = "aaaaaaeeeeiiiiooooouuuuyyncAAAAAAEEEEIIIIOOOOOUUUUYNC"
      "SELECT doc_id, CAST(len(clean) AS INTEGER) AS clean_len, " +
        "CAST(len(text) - len(clean) AS INTEGER) AS n_removed FROM " +
        "(SELECT doc_id, text, trim(regexp_replace(translate(" +
        "regexp_replace(text, '[\\x00-\\x1f\\x7f]+', ' ', 'g'), " +
        s"'$accents', '$replacements'), '\\s+', ' ', 'g')) AS clean FROM documents)"
    }),
    // --- weighted priority sampling (Duffield-Lund-Thorup) [ext] ---
    QuerySpec("q157_weighted_sample", ((s, d) =>
      TextFeatures.prioritySample(t(s, d, "documents"), 20)),
      ("SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, " +
        "CAST(n_chars AS DOUBLE) / " +
        "((('0x' || substring(md5('pr1' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1) " +
        "/ 4294967297.0) AS priority " +
        "FROM documents WHERE n_chars > 0 ORDER BY priority DESC, doc_id LIMIT 20")),
    // --- char-bigram self-perplexity (KenLM-filter stand-in) [ext]:
    // model + scoring fully in-engine, log costs as exact micronat longs ---
    QuerySpec("q163_char_perplexity", ((s, d) =>
      TextStats.charBigramLogScore(t(s, d, "documents"))),
      (s"WITH tt AS (SELECT doc_id, $normSql AS t FROM documents WHERE length($normSql) >= 2), " +
        "bg AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 2) AS bg " +
        "FROM tt, unnest(range(1, length(t))) AS u(i)), " +
        "model AS (SELECT bg, count(*) AS nbg FROM bg GROUP BY bg), " +
        "tot AS (SELECT CAST(sum(nbg) AS BIGINT) AS nt FROM model), " +
        "cost AS (SELECT bg, CAST(floor(-ln(CAST(nbg AS DOUBLE) / CAST(nt AS DOUBLE)) " +
        "* 1000000.0 + 0.5) AS BIGINT) AS mn FROM model CROSS JOIN tot) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "round(CAST(sum(mn) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS avg_neg_logp " +
        "FROM bg JOIN cost USING (bg) GROUP BY doc_id")),
    // --- per-source token-length band census (distribution-aware length
    // screen of a mixing recipe) [ext] ---
    QuerySpec("q164_length_bands", ((s, d) =>
      TextStats.sourceLengthBands(t(s, d, "documents"))),
      (s"WITH l AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS n FROM documents), " +
        "b AS (SELECT source, quantile_cont(n, 0.05) AS lo, quantile_cont(n, 0.95) AS hi " +
        "FROM l GROUP BY source) " +
        "SELECT l.source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN n < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short, " +
        "CAST(sum(CASE WHEN n > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long, " +
        "CAST(sum(CASE WHEN n >= lo AND n <= hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM l JOIN b USING (source) GROUP BY l.source")),
    // --- train/eval token-distribution drift (JS divergence over the full
    // vocabulary, exact integer accumulation) [ext] ---
    QuerySpec("q165_split_drift", ((s, d) =>
      TextStats.splitTokenDrift(t(s, d, "documents"))),
      (s"WITH tk AS (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_eval, " +
        s"unnest($toksSql) AS tok FROM documents), " +
        "g AS (SELECT tok, CAST(sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS ne, " +
        "CAST(sum(CASE WHEN is_eval THEN 0 ELSE 1 END) AS BIGINT) AS nt FROM tk GROUP BY tok), " +
        "t AS (SELECT CAST(sum(ne) AS BIGINT) AS tne, CAST(sum(nt) AS BIGINT) AS tnt FROM g), " +
        "terms AS (SELECT ne, nt, tne, tnt, " +
        "CASE WHEN ne > 0 THEN ne * CAST(floor(ln(2.0 * (CAST(ne AS DOUBLE) * CAST(tnt AS DOUBLE)) / " +
        "(CAST(ne AS DOUBLE) * CAST(tnt AS DOUBLE) + CAST(nt AS DOUBLE) * CAST(tne AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS se, " +
        "CASE WHEN nt > 0 THEN nt * CAST(floor(ln(2.0 * (CAST(nt AS DOUBLE) * CAST(tne AS DOUBLE)) / " +
        "(CAST(ne AS DOUBLE) * CAST(tnt AS DOUBLE) + CAST(nt AS DOUBLE) * CAST(tne AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS st " +
        "FROM g CROSS JOIN t) " +
        "SELECT CAST(max(tne) AS BIGINT) AS n_eval_tokens, CAST(max(tnt) AS BIGINT) AS n_train_tokens, " +
        "count(*) AS n_vocab, " +
        "round((CAST(sum(se) AS DOUBLE) / CAST(max(tne) AS DOUBLE) + " +
        "CAST(sum(st) AS DOUBLE) / CAST(max(tnt) AS DOUBLE)) / 2000000.0, 6) AS js_nats " +
        "FROM terms")),
    // --- BPE vocabulary induction gate [ext]: merges train driver-side on
    // the capped word-frequency table (quantizer contract); the gate pins
    // the segmentation invariants and that training compresses ---
    QuerySpec("q167_bpe_gate", ((s, d) =>
      graft.text.Bpe.bpeGate(t(s, d, "documents"))),
      // BPE merges are algorithm-internal; the oracle counts the anchors and
      // pins the segmentation invariants
      (s"WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents) " +
        "SELECT (SELECT count(*) FROM documents) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS total_tokens, " +
        "CAST(sum(length(tok)) AS BIGINT) AS total_token_chars, " +
        "TRUE AS bpe_ge_tokens, TRUE AS bpe_compresses FROM tok")),
    // --- per-source corpus report card (text-side reporting layer),
    // published through the CHECK-governed lake write like q161 ---
    QuerySpec("q168_corpus_report", { (s, d) =>
      val card = graft.text.Refinery.corpusReportCard(t(s, d, "documents"))
      val lake = graft.tables.TempLakes.lake(s, "graft_corpus_report_lake")
      lake.write(card, "corpus_report", "overwrite",
        constraints = Seq(
          ("pass_rate_bounded", "pass_rate >= 0 AND pass_rate <= 1"),
          ("dups_nonneg", "n_exact_dups >= 0"),
          ("langs_positive", "n_langs >= 1"))): Unit
      lake.read("corpus_report")
    },
      (s"WITH b AS (SELECT source, lang, $normSql AS norm, " +
        s"CAST(len($toksSql) AS BIGINT) AS n_tokens, " +
        s"CAST(len(list_distinct($toksSql)) AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) AS dr " +
        "FROM documents), " +
        "main AS (SELECT source, count(*) AS n_docs, " +
        "CAST(count(*) - count(DISTINCT norm) AS BIGINT) AS n_exact_dups, " +
        "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
        "quantile_cont(n_tokens, 0.5) AS p50_tokens, " +
        "round(CAST(sum(CASE WHEN n_tokens >= 20 AND dr >= 0.2 THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS pass_rate FROM b GROUP BY source), " +
        "lc AS (SELECT source, lang, count(*) AS nl FROM documents GROUP BY 1, 2), " +
        "lgr AS (SELECT source, lang, " +
        "row_number() OVER (PARTITION BY source ORDER BY nl DESC, lang) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n_langs FROM lc) " +
        "SELECT main.source, n_docs, n_exact_dups, total_tokens, p50_tokens, pass_rate, " +
        "n_langs, lgr.lang AS top_lang FROM main JOIN lgr ON main.source = lgr.source " +
        "WHERE lgr.rn = 1")),
    // --- the FULL refinery, end to end and oracle-verified: quality gate ->
    // exact dedup -> shingle near-dup closure -> per-source cap -> chunk
    // plan. Spark runs the banded/label-propagation scale pipeline; the oracle replays
    // every stage declaratively (the q21/q19/q24/q43/q94 spellings
    // composed) — the strongest single statement that the training-data
    // pipeline computes exactly what it claims ---
    QuerySpec("q169_refinery_e2e", ((s, d) =>
      graft.text.Refinery.refine(t(s, d, "documents"),
        graft.text.Refinery.Config())),
      // the whole refinery replayed declaratively: gate (q21's predicate),
      // exact-dedup keepers (q19), brute-force shingle pairs + recursive
      // closure (q24/q43), md5-rank source cap, chunk expansion (q94)
      (s"WITH RECURSIVE gt AS (SELECT doc_id, source, text FROM " +
        s"(SELECT doc_id, source, text, $toksSql AS toks FROM documents) " +
        "WHERE len(toks) >= 20 AND " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.2), " +
        refineryKeepersCtes("gt") + ", " +
        s"${nearDupClosureCtes("0.8")}, $removedCte, $keptCte, " +
        capChunkSql("kept"))),
    // --- benchmark decontamination [ext]: docs hash-split into a small
    // "benchmark" slice and the training rest; bench 4-gram hashes
    // broadcast, the train side is checked map-only (GPT-3 appendix-C
    // contract: one shared n-gram flags the document) ---
    QuerySpec("q172_decontamination", ((s, d) => {
      val docs = t(s, d, "documents")
      graft.text.Decontam.contaminationReport(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0), n = 4)
    }),
      // full declarative replay of the broadcast n-gram decontamination:
      // distinct 4-grams per doc, bench slice's gram set, left-join count
      (s"WITH $benchGramCtes " +
        "SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams, " +
        "CAST(count(b.g) AS BIGINT) AS n_contaminated, " +
        "CAST(count(b.g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contamination_ratio, " +
        "count(b.g) > 0 AS is_contaminated " +
        "FROM e LEFT JOIN b ON e.g = b.g WHERE e.doc_id % 37 <> 0 GROUP BY e.doc_id")),
    // --- corpus-frequent boilerplate score [ext]: n-gram doc-frequency
    // map-side-combined on 64-bit hashes, frequent set broadcast back,
    // per-doc boilerplate ratio (C4/CCNet most-common-paragraphs adapted) ---
    QuerySpec("q173_boilerplate", ((s, d) =>
      graft.text.Decontam.boilerplateRatio(t(s, d, "documents"),
        n = 3, minDocs = 5)),
      // boilerplate replay on the shared 3-gram CTEs: doc frequency over the
      // distinct (doc, gram) rows, frequent set left-joined back per doc
      (s"WITH ${shingleCtes("documents")}, " +
        "dfq AS (SELECT g, count(*) AS nd FROM e GROUP BY 1), " +
        "bl AS (SELECT g FROM dfq WHERE nd >= 5) " +
        "SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams, " +
        "CAST(count(bl.g) AS BIGINT) AS n_boiler, " +
        "CAST(count(bl.g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS boiler_ratio " +
        "FROM e LEFT JOIN bl ON e.g = bl.g GROUP BY e.doc_id")),
    // --- decontaminate itself [ext]: the anti-join drop users actually run
    // (q172 verifies the report; this verifies the surviving train set) ---
    QuerySpec("q177_decontaminate", ((s, d) => {
      val docs = t(s, d, "documents")
      graft.text.Decontam.decontaminate(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0), n = 4)
        .select("doc_id", "source", "lang")
    }),
      // decontaminate replay: q172's contaminated-id set, anti-joined away
      // from the training slice (the surviving corpus is the contract)
      (s"WITH $benchGramCtes, " +
        "bad AS (SELECT DISTINCT e.doc_id FROM e JOIN b ON e.g = b.g WHERE e.doc_id % 37 <> 0) " +
        "SELECT d.doc_id, d.source, d.lang FROM documents d " +
        "WHERE d.doc_id % 37 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)")),
    // --- Gopher/MassiveText quality-rule bundle [ext]: the published
    // per-doc heuristic filter suite, exact integer rule booleans ---
    QuerySpec("q179_gopher_rules", ((s, d) =>
      TextStats.gopherQualityProfile(t(s, d, "documents"))),
      // Gopher rule replay: exact integer metrics, integer-arithmetic rule
      // booleans (ratios only for the two reported rounded columns)
      (s"WITH m AS (SELECT doc_id, " +
        gopherMetricCols +
        "FROM documents), " +
        "r AS (SELECT doc_id, n_words, " +
        "round(CAST(sum_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS mean_word_len, " +
        "round(CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS symbol_ratio, " +
        "round(CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS alpha_word_frac, " +
        "n_stop_words, " +
        "n_words >= 50 AND n_words <= 100000 AS words_ok, " +
        "sum_word_chars >= 3 * n_words AND sum_word_chars <= 10 * n_words AS mean_len_ok, " +
        "n_symbols * 10 <= n_words AS symbol_ok, " +
        "n_alpha_words * 5 >= n_words * 4 AS alpha_ok, " +
        "n_stop_words >= 2 AS stop_ok, " +
        "n_bullet_lines * 10 <= n_lines * 9 AND n_ellipsis_lines * 10 <= n_lines * 3 AS lines_ok " +
        "FROM m) " +
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, " +
        "n_stop_words, words_ok, mean_len_ok, symbol_ok, alpha_ok, stop_ok, lines_ok, " +
        "words_ok AND mean_len_ok AND symbol_ok AND alpha_ok AND stop_ok AND lines_ok " +
        "AS pass_gopher FROM r")),
    // --- Gopher repetition signals [ext]: top / duplicated word-bigram
    // character coverage ---
    QuerySpec("q180_topgram_fraction", ((s, d) =>
      TextStats.topNgramCharFraction(t(s, d, "documents"))),
      // repetition-signal replay: per-doc bigram counts, rank-1 top gram
      // (ties lexicographic), repeated-gram character coverage
      (s"WITH f AS (SELECT doc_id, $toksSql AS toks, " +
        s"CAST(strlen($normSql) AS BIGINT) AS n_chars FROM documents " +
        s"WHERE len($toksSql) >= 2), " +
        "e AS (SELECT doc_id, n_chars, unnest(list_transform(range(len(toks) - 1), " +
        "i -> array_to_string(toks[i+1:i+2], ' '))) AS g FROM f), " +
        "c AS (SELECT doc_id, n_chars, g, count(*) AS c FROM e GROUP BY 1, 2, 3), " +
        "d AS (SELECT doc_id, CAST(sum(CASE WHEN c > 1 THEN c * strlen(g) ELSE 0 END) AS BIGINT) " +
        "AS dup_chars FROM c GROUP BY 1), " +
        "r AS (SELECT doc_id, n_chars, g, c, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c) " +
        "SELECT r.doc_id, r.g AS top_gram, CAST(r.c AS BIGINT) AS n_occurrences, " +
        "round(CAST(r.c * strlen(r.g) AS DOUBLE) / CAST(r.n_chars AS DOUBLE), 6) AS top_char_fraction, " +
        "round(CAST(d.dup_chars AS DOUBLE) / CAST(r.n_chars AS DOUBLE), 6) AS dup_char_fraction " +
        "FROM r JOIN d USING (doc_id) WHERE rn = 1")),
    // --- directional containment near-dup [ext]: the embedded-document
    // detector (quote/snippet case) symmetric Jaccard misses; pure
    // counting over DF-pruned shingle hashes. Runs on a deterministic
    // HALF-SLICE: this exact Σdf² counting form is the VERIFICATION twin —
    // q185's banded operator is the full-corpus scale form, and
    // Round8OpsSpec pins banded == exact, so paying the quadratic
    // self-join twice over the whole corpus bought nothing (the slice
    // still carries 7 true pairs at sf0.01 — non-vacuous) ---
    QuerySpec("q182_containment_dups", ((s, d) =>
      graft.text.Dedup.containmentNearDups(
        t(s, d, "documents").filter(col("doc_id") % 2 === 1),
        shingleSize = 3, threshold = 0.5, maxDf = 1000)),
      // containment replay on the shared 3-gram CTEs: DF prune first (part of
      // the contract — sizes count pruned sets), shared counts from the
      // string-gram join (Spark joins the xxhash64 keys; counts agree), one
      // division per direction — over the same odd half-slice as the query
      (s"WITH ${shingleCtes("(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)")}, " +
        containmentPairsSql)),
    // --- corpus novelty curve [ext]: per-doc fraction of shingles first
    // introduced by that doc (ingestion-order redundancy telemetry) ---
    QuerySpec("q183_gram_novelty", ((s, d) =>
      graft.text.Dedup.gramNovelty(t(s, d, "documents"))),
      // novelty replay on the shared 3-gram CTEs: min-doc per gram, join back
      (s"WITH ${shingleCtes("documents")}, " +
        "fst AS (SELECT g, min(doc_id) AS first_doc FROM e GROUP BY 1) " +
        "SELECT e.doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN fst.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "round(CAST(sum(CASE WHEN fst.first_doc = e.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS novelty " +
        "FROM e JOIN fst USING (g) GROUP BY e.doc_id")),
    // --- banded containment near-dup [ext]: bottom-k sketch candidates +
    // exact verify — the scale form of q182 (candidates from ≤ sketchK
    // sampled grams per doc probing the DF-pruned gram table, never the
    // Σdf² self-join); the exact verify makes it equal the counting form
    // up to a 2^-64 sketch-miss margin, so the oracle replays the EXACT
    // containment arithmetic (q24's equality-oracle pattern) ---
    QuerySpec("q185_containment_banded", ((s, d) =>
      graft.text.Dedup.containmentNearDupsBanded(t(s, d, "documents"),
        shingleSize = 3, threshold = 0.5, maxDf = 1000, sketchK = 64)),
      // q182's SQL verbatim at the same parameters
      (s"WITH ${shingleCtes("documents")}, " +
        containmentPairsSql)),
    // --- refinery with the containment stage [ext]: gate -> exact dedup ->
    // shingle near-dup closure -> drop embedded quotes (directional
    // containment, banded) -> cap -> chunk; the oracle replays every stage
    // declaratively (q169's respell + q182's containment arithmetic over
    // the near-dup survivors). Near-dup at 0.98 so the containment stage
    // does REAL work on this corpus: its J ≈ 0.96 embedded-copy pairs slip
    // the tight Jaccard stage and only the directional stage removes them
    // (at q169's 0.8 the Jaccard closure would swallow every such pair and
    // the stage would verify vacuously). Runs on a deterministic
    // HALF-SLICE (the q189 pattern): the stage-equality contract is
    // corpus-size-independent, q169 already times the full-corpus refinery,
    // and the even slice keeps real containment pairs (6 at sf0.01) so the
    // directional stage still removes docs here ---
    QuerySpec("q186_refinery_containment", ((s, d) =>
      graft.text.Refinery.refine(
        t(s, d, "documents").filter(col("doc_id") % 2 === 0),
        graft.text.Refinery.Config(
          nearDupThreshold = 0.98, containment = true,
          containmentThreshold = 0.8, containmentMaxDf = 1000))),
      // refinery + containment replay: q169's stage respell (near-dup edges
      // at 0.98 — see the query comment), then q182's containment arithmetic
      // over the near-dup survivors (DF prune at 1000, threshold 0.8, drop
      // the contained side / keep min id on mutual), then the unchanged
      // cap + chunk tail over the containment survivors
      (s"WITH RECURSIVE gt AS (SELECT doc_id, source, text FROM " +
        s"(SELECT doc_id, source, text, $toksSql AS toks FROM documents WHERE doc_id % 2 = 0) " +
        "WHERE len(toks) >= 20 AND " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.2), " +
        refineryKeepersCtes("gt") + ", " +
        s"${nearDupClosureCtes("0.98")}, $removedCte, $keptCte, " +
        s"$containmentDropCtes, " +
        "kept2 AS (SELECT kept.doc_id, kept.source, kept.text FROM kept " +
        "LEFT JOIN crm ON kept.doc_id = crm.doc_id WHERE crm.doc_id IS NULL), " +
        capChunkSql("kept2"))),
    // --- Gopher-gated refinery [ext]: the production MassiveText filter
    // suite (q179's rules) actually gating the E2E pipeline; the oracle
    // swaps q169's basic gate for the integer-arithmetic rule conjunction.
    // Stop-word floor 1 (not the paper's 2): the synthetic corpus's
    // vocabulary barely intersects the 8-word stop list, and a gate that
    // drops 100% verifies nothing — at 1 the gate passes ~half the corpus,
    // so every downstream stage is exercised on a non-trivial survivor set.
    // Runs on the ODD half-slice (complementing q186's even one — the
    // gate-swap contract is corpus-size-independent; q169 carries the
    // full-corpus E2E timing) ---
    QuerySpec("q187_refinery_gopher", ((s, d) =>
      graft.text.Refinery.refine(
        t(s, d, "documents").filter(col("doc_id") % 2 === 1),
        graft.text.Refinery.Config(gate = "gopher",
          gopherMinStopWords = 1))),
      // Gopher-gated refinery replay: q179's integer-arithmetic rule
      // conjunction as the gate, then q169's unchanged dedup/cap/chunk respell
      (s"WITH RECURSIVE gm AS (SELECT doc_id, source, text, " +
        gopherMetricCols +
        "FROM documents WHERE doc_id % 2 = 1), " +
        "gt AS (SELECT doc_id, source, text FROM gm " +
        "WHERE n_words >= 50 AND n_words <= 100000 " +
        "AND sum_word_chars >= 3 * n_words AND sum_word_chars <= 10 * n_words " +
        "AND n_symbols * 10 <= n_words AND n_alpha_words * 5 >= n_words * 4 " +
        "AND n_stop_words >= 1 " +
        "AND n_bullet_lines * 10 <= n_lines * 9 AND n_ellipsis_lines * 10 <= n_lines * 3), " +
        refineryKeepersCtes("gt") + ", " +
        s"${nearDupClosureCtes("0.8")}, $removedCte, $keptCte, " +
        capChunkSql("kept"))),
    // --- END-TO-END curation artifact [ext]: the composition endgame — the
    // FULL refinery (basic gate + CCNet LM tail drop + learned NB
    // classifier + exact/shingle near-dup + containment + cap) feeds
    // clusterSplit, the train split feeds budgetedQualitySelection
    // (waterfilled 2600-token budget, best-first), the selection feeds
    // budgetedSamplePlan (4000 tokens, <= 2 epochs), and the plan is
    // PUBLISHED through a CHECK-constrained lake write and read back (the
    // q168 governed-artifact pattern). EIGHTH slice (doc_id % 8 = 1) with
    // the q196 twin-perm setting (32/16), sized to a <= 5 s in-suite
    // budget. Oracle: every stage's existing
    // respell composed (q208's gate+LM, q212's classifier, q169/q186's
    // dedup+containment, q215's selection, q210's plan), with the split
    // stage replayed by THEOREM: refinery survivors are exact-distinct and
    // pair-free at 0.8 (dedup removed every such pair, and two kept
    // cluster representatives can't pair >= 0.8 or the closure would have
    // merged them), so every cluster is the singleton {doc_id} and the
    // split is the md5-nibble of the doc's own id. The engine still runs
    // the full clusterSplit machinery — a bug anywhere in it lands outside
    // the theorem and hash-mismatches ---
    QuerySpec("q223_curation_artifact", { (s, d) =>
      // the chain STAGES through the lake (the medallion discipline):
      // each macro-stage publishes a governed table and the next reads it
      // back — which is also the scale answer to composed-lineage blowup
      // (refinery LSH + split LSH + three windows in ONE logical plan
      // measurably OOMs the driver's analyzer; a staged read resets
      // lineage to a parquet scan, exactly as a 1000-executor pipeline
      // would checkpoint between curation phases). The chain's dozens of
      // eager jobs all run on a slice-sized corpus, so they run in the
      // micro-batch span (sized shuffles, AQE off; at real scale the span
      // would keep AQE on)
      val lake = graft.tables.TempLakes.lake(s, "graft_curation_lake")
      graft.stream.MicroBatch.sized(s) { _ =>
        val slice = t(s, d, "documents").filter(col("doc_id") % 8 === 1)
        val chunks = graft.text.Refinery.refine(slice,
          graft.text.Refinery.Config(
            lmFilter = Some(graft.text.Refinery.LmFilter("lang = 'en'",
              tailPermille = 300)),
            classifierFilter = Some(graft.text.Refinery.NbFilter(
              "lang = 'en'", "lang <> 'en'", minAvgMicronats = 0L)),
            containment = true, dedupNumPerms = 32, dedupBands = 16))
        lake.write(slice.join(chunks.select("doc_id").distinct(),
          Seq("doc_id"), "left_semi"), "survivors", "overwrite"): Unit
        val sv = lake.read("survivors")
        val split = graft.text.Dedup.clusterSplit(sv, numPerms = 32, bands = 16)
        lake.write(sv.join(
          split.filter(col("split") === "train").select("doc_id"),
          Seq("doc_id"), "left_semi"), "train_docs", "overwrite"): Unit
        val tr = lake.read("train_docs")
        val sel = TextFeatures.budgetedQualitySelection(tr, budgetTokens = 2600L)
        val selDocs = tr.join(sel.select("doc_id"), Seq("doc_id"), "left_semi")
        val plan = TextFeatures.budgetedSamplePlan(selDocs, budgetTokens = 4000L,
          maxEpochs = 2.0)
        lake.write(plan, "training_plan", "overwrite",
          constraints = Seq(
            ("copies_positive", "n_copies >= 1"),
            ("tokens_positive", "n_tokens >= 1"))): Unit
      }
      lake.read("training_plan")
    },
      // end-to-end curation artifact: q208's gate+LM, q212's classifier,
      // q169/q186's dedup+containment, q215's waterfilled best-first
      // selection, q210's sample plan — composed over the quarter slice.
      // The split stage is replayed BY THEOREM (see the query registration):
      // refinery survivors are exact-distinct and pair-free at 0.8, so every
      // cluster is the singleton {doc_id} and train = md5-nibble not in 0/1
      // stage-boundary CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and
      // with six composed stages each referencing its predecessor several
      // times the inlined scan tree grows exponentially (measured as fd
      // exhaustion on the parquet view) — the exact twin of the engine-side
      // stage leaves in Refinery.refine
      ("WITH RECURSIVE gt AS MATERIALIZED (SELECT doc_id, source, lang, text FROM " +
        s"(SELECT doc_id, source, lang, text, $toksSql AS toks FROM documents " +
        "WHERE doc_id % 8 = 1) " +
        "WHERE len(toks) >= 20 AND " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.2), " +
        s"$lmTailCtes, " +
        "lmk AS MATERIALIZED (SELECT gt.doc_id, gt.source, gt.lang, gt.text FROM gt " +
        "LEFT JOIN tl9 ON gt.doc_id = tl9.doc_id WHERE tl9.doc_id IS NULL), " +
        nbScoreCtesOver("lmk", "n") + ", " +
        "avn AS (SELECT doc_id, CAST(floor(CAST(sum(w) AS DOUBLE) / count(*) + 0.5) " +
        "AS BIGINT) AS avg_m FROM scn GROUP BY doc_id), " +
        "badn AS (SELECT lmk.doc_id FROM lmk JOIN avn USING (doc_id) " +
        "WHERE NOT coalesce(lang = 'en', false) AND avg_m < 0), " +
        "clfk AS MATERIALIZED (SELECT lmk.doc_id, lmk.source, lmk.text FROM lmk " +
        "LEFT JOIN badn ON lmk.doc_id = badn.doc_id WHERE badn.doc_id IS NULL), " +
        s"nrm AS (SELECT doc_id, $normSql AS norm FROM clfk), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY norm), " +
        "kd AS MATERIALIZED (SELECT clfk.doc_id, clfk.source, clfk.text FROM clfk JOIN k USING (doc_id)), " +
        shingleCtes("kd") + s", $shinglePairCtes, " +
        s"${nearDupClosureCtes("0.8")}, $removedCte, " +
        "kept AS MATERIALIZED (SELECT kd.doc_id, kd.source, kd.text FROM kd " +
        "LEFT JOIN removed ON kd.doc_id = removed.n WHERE removed.n IS NULL), " +
        s"$containmentDropCtes, " +
        "kept2 AS MATERIALIZED (SELECT kept.doc_id, kept.source, kept.text FROM kept " +
        "LEFT JOIN crm ON kept.doc_id = crm.doc_id WHERE crm.doc_id IS NULL), " +
        "tr AS MATERIALIZED (SELECT doc_id, source, text FROM kept2 " +
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1')), " +
        s"tq AS (SELECT doc_id, source, $toksSql AS toks FROM tr), " +
        "fq AS MATERIALIZED (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CASE WHEN len(toks) > 0 THEN CAST(floor(CAST(len(list_distinct(toks)) AS DOUBLE) " +
        "* 1000000 / CAST(len(toks) AS DOUBLE) + 0.5) AS BIGINT) ELSE 0 END AS distinct_micro " +
        "FROM tq), " +
        "psq AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_tokens, " +
        "CAST(floor(CAST(sum(n_tokens) AS DOUBLE) * 1.0) AS BIGINT) AS cap_tokens " +
        "FROM fq GROUP BY 1), " +
        s"${waterfillCtes("q", 2600)}, " +
        "alq AS (SELECT source, least(cap_tokens, " +
        "CAST(floor(coalesce(theta, CAST(cap_tokens AS DOUBLE))) AS BIGINT)) AS alloc_tokens " +
        "FROM rkq CROSS JOIN thq), " +
        "rq AS (SELECT fq.doc_id, fq.source, fq.n_tokens, alq.alloc_tokens, " +
        "coalesce(sum(fq.n_tokens) OVER (PARTITION BY fq.source " +
        "ORDER BY fq.distinct_micro DESC, fq.n_tokens DESC, fq.doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before " +
        "FROM fq JOIN alq USING (source)), " +
        "selq AS (SELECT doc_id FROM rq WHERE cum_before < alloc_tokens), " +
        "t0 AS MATERIALIZED (SELECT fq.doc_id, fq.source, fq.n_tokens AS nt FROM fq JOIN selq USING (doc_id)), " +
        "ps2 AS (SELECT source, CAST(sum(nt) AS BIGINT) AS t_tokens, " +
        "CAST(floor(CAST(sum(nt) AS DOUBLE) * 2.0) AS BIGINT) AS cap_tokens " +
        "FROM t0 GROUP BY 1), " +
        s"${waterfillCtes("2", 4000)}, " +
        "al2 AS (SELECT source, t_tokens, least(cap_tokens, " +
        "CAST(floor(coalesce(theta, CAST(cap_tokens AS DOUBLE))) AS BIGINT)) AS alloc_tokens " +
        "FROM rk2 CROSS JOIN th2), " +
        samplePlanSql("al2"))),
    // --- DSIR importance weights [ext]: hashed-n-gram bag models of the
    // target slice (lang = en) vs the raw pool, per-doc log importance
    // weight as an exact micronat long sum — the published
    // target-distribution data-selection recipe, hash-replayable ---
    // Runs on the EVEN half-slice: q193 composes the SAME weight pipeline
    // over the full corpus (the selection contract needs the whole pool),
    // so keeping q190 full-corpus paid the identical gram pass twice — the
    // q182/q185 de-duplication rule; the weights contract itself is
    // corpus-size-independent
    QuerySpec("q190_dsir_weights", ((s, d) =>
      TextFeatures.dsirWeights(
        t(s, d, "documents").filter(col("doc_id") % 2 === 0),
        col("lang") === "en", n = 2, buckets = 1024)),
      // DSIR replay: same portable bucket hash, same Laplace-smoothed
      // double-formed ratio, same single micronat quantization per bucket,
      // same exact long count×micronat sums
      (s"WITH t AS (SELECT doc_id, lang = 'en' AS is_t, $toksSql AS toks " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        s"$dsirWeightCtes " +
        "SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams, " +
        "CAST(sum(cnt * lr.lr) AS BIGINT) AS w_micronats " +
        "FROM dc JOIN lr USING (b) GROUP BY doc_id")),
    // --- DSIR resampling [ext]: the paper's data-SELECTION step (not just
    // scoring) — Gumbel top-k over the q190 importance weights draws a
    // weight-proportional sample without replacement; both the weights and
    // the Gumbel keys are integer micronats, so the selected set is an
    // exact long-arithmetic replay ---
    QuerySpec("q193_dsir_resample", ((s, d) =>
      TextFeatures.dsirResample(t(s, d, "documents"),
        col("lang") === "en", keep = 150, n = 2, buckets = 1024)),
      // DSIR resample replay: q190's weight pipeline, then the micronat-
      // quantized Gumbel key from the same seeded md5-prefix u as q157,
      // exact long-sum selection key, (key DESC, doc_id) top-150
      (s"WITH t AS (SELECT doc_id, lang = 'en' AS is_t, $toksSql AS toks FROM documents), " +
        s"$dsirWeightCtes, " +
        "w AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams, " +
        "CAST(sum(cnt * lr.lr) AS BIGINT) AS w_micronats " +
        "FROM dc JOIN lr USING (b) GROUP BY doc_id), " +
        "gq AS (SELECT doc_id, n_grams, w_micronats, " +
        "CAST(floor(-ln(-ln((('0x' || substring(md5('dsir1' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1) " +
        "/ 4294967297.0)) * 1000000 + 0.5) AS BIGINT) AS g_micronats FROM w) " +
        "SELECT doc_id, n_grams, w_micronats, g_micronats, " +
        "w_micronats + g_micronats AS score_micronats FROM gq " +
        "ORDER BY score_micronats DESC, doc_id LIMIT 150")),
    // --- span-level dedup [ext]: arXiv:2107.06499's substring dedup as a
    // distributed rolling-window census — windows duplicated across >= 2
    // docs are removed from every doc but the min-id keeper, survivors
    // reassembled in order; the census shuffles 64-bit window hashes, the
    // oracle groups the window STRINGS (same counts, the gram-join
    // contract) ---
    QuerySpec("q197_span_dedup", ((s, d) =>
      graft.text.Dedup.spanDedup(t(s, d, "documents"), window = 10, minDocs = 2)),
      // span-dedup replay: rolling 10-token windows with start positions,
      // df census over the window STRINGS (Spark groups their xxhash64 — the
      // gram-join contract: counts agree), non-keeper covered positions,
      // order-preserving reassembly of the survivors
      (s"WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents), " +
        "w AS (SELECT doc_id, unnest(range(len(toks) - 9)) AS pos, toks FROM t WHERE len(toks) >= 10), " +
        "wg AS (SELECT doc_id, pos, array_to_string(toks[pos+1:pos+10], ' ') AS g FROM w), " +
        "dfc AS (SELECT g, count(DISTINCT doc_id) AS df, min(doc_id) AS keeper FROM wg GROUP BY 1), " +
        "dupw AS (SELECT wg.doc_id, wg.pos FROM wg JOIN dfc USING (g) " +
        "WHERE dfc.df >= 2 AND wg.doc_id <> dfc.keeper), " +
        "cov AS (SELECT DISTINCT doc_id, i FROM " +
        "(SELECT doc_id, unnest(range(pos, pos + 10)) AS i FROM dupw)), " +
        "tp AS (SELECT doc_id, unnest(range(len(toks))) AS i, toks FROM t), " +
        "tpi AS (SELECT doc_id, i, toks[i+1] AS tok FROM tp), " +
        "keep AS (SELECT tpi.doc_id, tpi.i, tpi.tok FROM tpi " +
        "LEFT JOIN cov ON tpi.doc_id = cov.doc_id AND tpi.i = cov.i WHERE cov.i IS NULL), " +
        "clean AS (SELECT doc_id, array_to_string(array_agg(tok ORDER BY i), ' ') AS clean_text " +
        "FROM keep GROUP BY 1), " +
        "ndw AS (SELECT doc_id, count(*) AS ndw FROM dupw GROUP BY 1), " +
        "ncv AS (SELECT doc_id, count(*) AS ncv FROM cov GROUP BY 1) " +
        "SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(ndw, 0) AS BIGINT) AS n_dup_windows, " +
        "CAST(coalesce(ncv, 0) AS BIGINT) AS n_removed_tokens, " +
        "coalesce(clean_text, '') AS clean_text " +
        "FROM t LEFT JOIN ndw USING (doc_id) LEFT JOIN ncv USING (doc_id) " +
        "LEFT JOIN clean USING (doc_id)")),
    // --- quality-aware canonical dedup [ext]: q43's cluster closure, but
    // keep the (passes_filter DESC, n_tokens DESC, doc_id ASC) argmax per
    // near-dup cluster instead of blind min-id — integer ordering keys so
    // the argmax replays exactly on any engine. Runs on the EVEN half-slice
    // (the q186 pattern: the keep-policy contract is corpus-size-
    // independent; q43 carries the full-corpus closure timing) ---
    QuerySpec("q198_dedup_keep_best", ((s, d) =>
      graft.text.Dedup.dedupCorpusKeepBest(
        t(s, d, "documents").filter(col("doc_id") % 2 === 0))),
      // keep-best dedup replay: q43's exact-dedup + closure over the even
      // half-slice, component id = min over reachability, then the integer
      // (passes DESC, n_tokens DESC, doc_id) argmax per component
      ("WITH RECURSIVE nrm AS (SELECT doc_id, " + normSql +
        " AS norm FROM documents WHERE doc_id % 2 = 0), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY norm), " +
        shingleCtes("(SELECT d.doc_id, d.text FROM documents d JOIN k USING (doc_id))") +
        s", $shinglePairCtes, " +
        s"${nearDupClosureCtes("0.8")}, " +
        "compmap AS (SELECT n AS doc_id, min(m) AS mn FROM r GROUP BY n), " +
        "comp AS (SELECT k.doc_id, least(k.doc_id, coalesce(mn, k.doc_id)) AS cluster_id " +
        "FROM k LEFT JOIN compmap USING (doc_id)), " +
        "feats AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CASE WHEN len(toks) >= 20 AND " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.2 " +
        "THEN 1 ELSE 0 END AS passes FROM t), " +
        "ranked AS (SELECT comp.doc_id, cluster_id, " +
        "row_number() OVER (PARTITION BY cluster_id " +
        "ORDER BY passes DESC, n_tokens DESC, comp.doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY cluster_id) AS cluster_size " +
        "FROM comp JOIN feats USING (doc_id)) " +
        "SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size " +
        "FROM ranked WHERE rn = 1")),
    // --- leakage-free cluster split [ext]: near-dup clusters (not docs)
    // hash to train/val/test via the md5-nibble policy, so no exact/near
    // duplicate pair ever straddles a split boundary. ODD half-slice
    // (complementing q198's even one) ---
    QuerySpec("q199_cluster_split", ((s, d) =>
      graft.text.Dedup.clusterSplit(
        t(s, d, "documents").filter(col("doc_id") % 2 === 1))),
      // cluster-split replay: every doc -> its exact-dedup keeper -> the
      // keeper's closure component -> the md5-first-nibble split of the
      // CLUSTER id ('0' val, '1' test, else train)
      ("WITH RECURSIVE nrm AS (SELECT doc_id, " + normSql +
        " AS norm FROM documents WHERE doc_id % 2 = 1), " +
        "k2 AS (SELECT norm, min(doc_id) AS keeper FROM nrm GROUP BY norm), " +
        "k AS (SELECT keeper AS doc_id FROM k2), " +
        shingleCtes("(SELECT d.doc_id, d.text FROM documents d JOIN k USING (doc_id))") +
        s", $shinglePairCtes, " +
        s"${nearDupClosureCtes("0.8")}, " +
        "compmap AS (SELECT n AS kdoc, min(m) AS mn FROM r GROUP BY n), " +
        "comp AS (SELECT k.doc_id AS keeper, least(k.doc_id, coalesce(mn, k.doc_id)) AS cluster_id " +
        "FROM k LEFT JOIN compmap ON k.doc_id = compmap.kdoc), " +
        "dm AS (SELECT nrm.doc_id, k2.keeper FROM nrm JOIN k2 USING (norm)) " +
        "SELECT dm.doc_id, comp.cluster_id, " +
        "CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1) = '0' THEN 'val' " +
        "WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1) = '1' THEN 'test' " +
        "ELSE 'train' END AS split " +
        "FROM dm JOIN comp USING (keeper)")),
    // --- CCNet LM quality scoring [ext]: Stupid-Backoff bigram LM trained
    // on the trusted (en) slice, every other doc scored by exact-micronat
    // avg negative log-likelihood (arXiv:1911.00359's perplexity filter;
    // one tokenize pass, count-table equi-joins on 64-bit keys) ---
    QuerySpec("q200_lm_perplexity", ((s, d) =>
      graft.text.LangModel.lmScore(t(s, d, "documents"), col("lang") === "en")),
      // CCNet LM replay: train-slice bigram/unigram count tables, per-event
      // micronat log-probs (Stupid Backoff: bigram, else smoothed unigram,
      // else the unknown default off the 1-row totals), exact long sums
      lmPerplexitySql),
    // --- CCNet head/middle/tail split [ext]: the scored pool ranked via
    // globalPrefixSums range buckets (no data-sized global window), exact
    // integer per-mille cutoffs ---
    QuerySpec("q201_lm_buckets", ((s, d) =>
      graft.text.LangModel.perplexityBuckets(t(s, d, "documents"),
        col("lang") === "en")),
      // head/middle/tail replay: q200's scores, global (avg_nll, doc_id) rank,
      // exact per-mille cutoffs ceil(n*p/1000) = floor((n*p+999)/1000)
      (s"WITH $lmScoreCtes, " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "CAST(floor(CAST(-sum(lp) AS DOUBLE) / count(*) + 0.5) AS BIGINT) " +
        "AS avg_nll_micronats FROM sc GROUP BY doc_id), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY avg_nll_micronats, doc_id) AS rnk, " +
        "count(*) OVER () AS n FROM agg) " +
        "SELECT doc_id, n_bigrams, avg_nll_micronats, CAST(rnk AS BIGINT) AS rank, " +
        "CASE WHEN rnk <= floor((n * 300 + 999) / 1000) THEN 'head' " +
        "WHEN rnk > n - floor((n * 300 + 999) / 1000) THEN 'tail' " +
        "ELSE 'middle' END AS bucket FROM r")),
    // --- token-budget epoch allocation [ext]: exact waterfilling of a
    // 49k-token budget across sources with a 2-epoch repetition cap
    // (arXiv:2305.16264's repeat-up-to-a-cap schedule); at sf0.01 the
    // level caps 2 sources and waterfills 18 — both branches live ---
    QuerySpec("q202_token_budget", ((s, d) =>
      graft.text.TextFeatures.tokenBudgetAllocation(t(s, d, "documents"),
        budgetTokens = 49000L, maxEpochs = 2.0)),
      // waterfilling replay: per-source caps sorted ascending, theta = MAX
      // over feasible rows of (budget - caps below) / rows remaining, alloc =
      // min(cap, floor(theta)); null theta = budget unreachable, allocate caps
      (s"WITH t AS (SELECT source, len($toksSql) AS n FROM documents), " +
        "ps AS (SELECT source, CAST(sum(n) AS BIGINT) AS t_tokens, " +
        "CAST(floor(CAST(sum(n) AS DOUBLE) * 2.0) AS BIGINT) AS cap_tokens " +
        "FROM t GROUP BY 1), " +
        s"${waterfillCtes("", 49000)}, " +
        "al AS (SELECT source, t_tokens, cap_tokens, " +
        "least(cap_tokens, CAST(floor(coalesce(theta, CAST(cap_tokens AS DOUBLE))) " +
        "AS BIGINT)) AS alloc_tokens, theta IS NOT NULL AS budget_met " +
        "FROM rk CROSS JOIN th) " +
        "SELECT source, t_tokens, cap_tokens, alloc_tokens, budget_met, " +
        "CAST(floor(CAST(alloc_tokens AS DOUBLE) * 1000000 / " +
        "CAST(t_tokens AS DOUBLE) + 0.5) AS BIGINT) AS epochs_micro FROM al")),
    // --- per-source quality selection [ext]: keep the top 30% of EVERY
    // source by (distinct-token ratio, length) — the per-domain form of
    // DataComp-style filtering; one window partitioned by source ---
    QuerySpec("q203_top_quality_per_source", ((s, d) =>
      graft.text.TextFeatures.topQualityPerSource(t(s, d, "documents"),
        keepPermille = 300)),
      // per-source top-30% replay: micronat distinct ratio, (ratio, length,
      // id) rank inside each source, ceil cutoff in integers
      (s"WITH f AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(floor(CAST(len(list_distinct(toks)) AS DOUBLE) * 1000000 / " +
        "CAST(len(toks) AS DOUBLE) + 0.5) AS BIGINT) AS distinct_micro " +
        s"FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY source " +
        "ORDER BY distinct_micro DESC, n_tokens DESC, doc_id) AS rnk, " +
        "count(*) OVER (PARTITION BY source) AS n_src FROM f) " +
        "SELECT doc_id, source, n_tokens, distinct_micro, CAST(rnk AS BIGINT) AS rnk " +
        "FROM r WHERE rnk * 1000 <= n_src * 300 + 999")),
    // --- cross-source duplication matrix [ext]: shingle-verified near-dup
    // pairs annotated by source pair — the mirror-site/syndication
    // telemetry read before setting mixture weights ---
    QuerySpec("q205_source_overlap", ((s, d) =>
      graft.text.Dedup.sourceOverlapMatrix(t(s, d, "documents"),
        threshold = 0.8)),
      // source-overlap replay: the q24 brute-force pair set at 0.8, two
      // source lookups, unordered-pair group
      (s"WITH ${shingleCtes("documents")}, $shinglePairCtes, " +
        "p AS (SELECT doc_a, doc_b FROM sc " +
        "WHERE (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.8) " +
        "SELECT least(sa.source, sb.source) AS source_a, " +
        "greatest(sa.source, sb.source) AS source_b, " +
        "CAST(count(*) AS BIGINT) AS n_pairs " +
        "FROM p JOIN documents sa ON sa.doc_id = p.doc_a " +
        "JOIN documents sb ON sb.doc_id = p.doc_b GROUP BY 1, 2")),
    // --- dedup-adjusted effective tokens [ext]: per-source raw vs
    // canonical-survivor token counts + exact per-mille kept ratio (what
    // mixture weights should be set from — raw size over-samples
    // duplicated domains). ODD half-slice: q43 carries the full-corpus
    // closure timing; the ratio contract is corpus-size-independent ---
    QuerySpec("q206_effective_tokens", ((s, d) =>
      graft.text.Dedup.effectiveTokens(
        t(s, d, "documents").filter(col("doc_id") % 2 === 1),
        threshold = 0.8)),
      // effective-tokens replay: q43's closure over the odd half-slice ->
      // canonical survivors -> per-source raw vs surviving token sums, exact
      // integer per-mille (floor division on positive longs == idiv)
      ("WITH RECURSIVE docs0 AS (SELECT * FROM documents WHERE doc_id % 2 = 1), " +
        s"nrm AS (SELECT doc_id, $normSql AS norm FROM docs0), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY norm), " +
        shingleCtes("(SELECT d.doc_id, d.text FROM docs0 d JOIN k USING (doc_id))") +
        s", $shinglePairCtes, " +
        s"${nearDupClosureCtes("0.8")}, $removedCte, " +
        "surv AS (SELECT k.doc_id FROM k " +
        "LEFT JOIN removed ON k.doc_id = removed.n WHERE removed.n IS NULL), " +
        s"tok AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS nt FROM docs0), " +
        "raw AS (SELECT source, CAST(sum(nt) AS BIGINT) AS raw_tokens, " +
        "CAST(count(*) AS BIGINT) AS raw_docs FROM tok GROUP BY 1), " +
        "eff AS (SELECT source, CAST(sum(nt) AS BIGINT) AS effective_tokens, " +
        "CAST(count(*) AS BIGINT) AS effective_docs " +
        "FROM tok JOIN surv USING (doc_id) GROUP BY 1) " +
        "SELECT raw.source, raw_tokens, raw_docs, " +
        "CAST(coalesce(effective_tokens, 0) AS BIGINT) AS effective_tokens, " +
        "CAST(coalesce(effective_docs, 0) AS BIGINT) AS effective_docs, " +
        "CAST((CAST(coalesce(effective_tokens, 0) AS BIGINT) * 1000) // raw_tokens " +
        "AS BIGINT) AS kept_permille " +
        "FROM raw LEFT JOIN eff ON raw.source = eff.source")),
    // --- version drift [ext]: token-distribution JS divergence between
    // two committed lake versions (time travel + q165's exact-micronat
    // arithmetic) — "what did the append change about the corpus"; the
    // oracle replays drift(even slice, full corpus) directly, since v0 =
    // even docs and v1 = even + appended odd docs ---
    // --- learned quality classifier [ext]: the GPT-3/CCNet discriminative
    // web filter — hashed bag-of-ngrams (unigram + bigram) multinomial
    // Naive Bayes trained on trusted (en) vs pool (non-en) labels, every
    // doc scored by its exact-micronat class log-odds sum; one tokenize
    // pass + count-table equi-joins on longs. In-suite budget: ~q200's
    // weight (one gram pass + bounded joins), stated <= 3 s ---
    QuerySpec("q212_nb_classifier", ((s, d) =>
      graft.text.QualityClassifier.classifierScore(t(s, d, "documents"),
        col("lang") === "en", col("lang") =!= "en")),
      // Naive Bayes classifier replay: hashed unigram+bigram gram stream
      // (60-bit md5 token hash folded mod 2^18), per-bucket Laplace log-odds
      // quantized once to micronats (double products of longs — the exact
      // Spark spelling), every doc scored by the exact long sum
      nbClassifierSql),
    // --- near-dup EXPLANATIONS [ext]: audit-trail evidence — per flagged
    // pair (the exact q24 chain), the 5 RAREST shared shingles by corpus
    // document frequency (ties break on the gram string: deterministic).
    // A pair flagged on high-df boilerplate reads very differently from
    // one sharing a df-2 verbatim passage; reviews and threshold tuning
    // need the evidence, not just the verdict (budget <= 3 s) ---
    QuerySpec("q250_neardup_explanations", { (s, d) =>
      val docs = t(s, d, "documents")
      graft.text.Dedup.explainNearDups(docs,
        graft.text.Dedup.minhashNearDupsShingle(docs, threshold = 0.8))
    },
      // near-dup explanation replay: the q24 brute-force pair CTEs + shared
      // shingles joined to the vocabulary df, ranked rarest-first per pair
      (s"WITH ${shingleCtes("documents")}, $shinglePairCtes, " +
        "tp AS (SELECT doc_a, doc_b FROM sc " +
        "WHERE (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.8), " +
        "dfreq AS (SELECT g, count(DISTINCT doc_id) AS gram_df " +
        "FROM e GROUP BY 1), " +
        "shared AS (SELECT tp.doc_a, tp.doc_b, ea.g FROM tp " +
        "JOIN e ea ON ea.doc_id = tp.doc_a " +
        "JOIN e eb ON eb.doc_id = tp.doc_b AND eb.g = ea.g), " +
        "r AS (SELECT doc_a, doc_b, shared.g AS gram, gram_df, " +
        "CAST(row_number() OVER (PARTITION BY doc_a, doc_b " +
        "ORDER BY gram_df, shared.g) AS INTEGER) AS rn " +
        "FROM shared JOIN dfreq ON shared.g = dfreq.g) " +
        "SELECT doc_a, doc_b, gram, CAST(gram_df AS BIGINT) AS gram_df, rn " +
        "FROM r WHERE rn <= 5")),
    // --- split leakage audit [ext]: independent verification of q199's
    // leakage-free claim — near-dup pairs RECOMPUTED from scratch (q24
    // chain) and counted across split boundaries (zero is the theorem),
    // plus the worst remaining cross-boundary rare-gram Jaccard (the
    // near-leak spectrum below the dedup threshold). ODD half-slice
    // (q199's): the audit contract is corpus-size-independent, q199/q24
    // carry the closure/pair timings (in-suite budget <= 3 s) ---
    QuerySpec("q216_split_leakage_audit", ((s, d) =>
      graft.text.Dedup.splitLeakageAudit(
        t(s, d, "documents").filter(col("doc_id") % 2 === 1))),
      // leakage-audit replay: q199's split respell (one sc pair table over
      // the WHOLE slice serves both the keeper cluster graph and the
      // straddle check), straddle = J >= 0.8 pairs with different splits,
      // max-J = df-pruned gram equi-join across splits, |splits|² scaffold
      ("WITH RECURSIVE nrm AS (SELECT doc_id, " + normSql +
        " AS norm FROM documents WHERE doc_id % 2 = 1), " +
        "k2 AS (SELECT norm, min(doc_id) AS keeper FROM nrm GROUP BY norm), " +
        "k AS (SELECT keeper AS doc_id FROM k2), " +
        shingleCtes("(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)") +
        s", $shinglePairCtes, " +
        "edges AS (SELECT doc_a, doc_b FROM sc " +
        "JOIN k ka ON sc.doc_a = ka.doc_id JOIN k kb ON sc.doc_b = kb.doc_id " +
        "WHERE (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.8), " +
        s"$docPairClosureCtes, " +
        "compmap AS (SELECT n AS kdoc, min(m) AS mn FROM r GROUP BY n), " +
        "comp AS (SELECT k.doc_id AS keeper, least(k.doc_id, coalesce(mn, k.doc_id)) AS cluster_id " +
        "FROM k LEFT JOIN compmap ON k.doc_id = compmap.kdoc), " +
        "dm AS (SELECT nrm.doc_id, k2.keeper FROM nrm JOIN k2 USING (norm)), " +
        "sp AS (SELECT dm.doc_id, " +
        "CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1) = '0' THEN 'val' " +
        "WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1) = '1' THEN 'test' " +
        "ELSE 'train' END AS split FROM dm JOIN comp USING (keeper)), " +
        "str AS (SELECT least(x.split, y.split) AS split_a, " +
        "greatest(x.split, y.split) AS split_b, count(*) AS n_dups FROM sc " +
        "JOIN sp x ON sc.doc_a = x.doc_id JOIN sp y ON sc.doc_b = y.doc_id " +
        "WHERE (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.8 " +
        "AND x.split <> y.split GROUP BY 1, 2), " +
        "dfq AS (SELECT g, count(*) AS df FROM e GROUP BY 1), " +
        "ke AS (SELECT e.doc_id, e.g FROM e JOIN dfq USING (g) WHERE df <= 1000), " +
        "ksz AS (SELECT doc_id, count(*) AS ksn FROM ke GROUP BY 1), " +
        "shx AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, " +
        "xs.split AS sa, ys.split AS sb, count(*) AS ns FROM ke x " +
        "JOIN ke y ON x.g = y.g AND x.doc_id < y.doc_id " +
        "JOIN sp xs ON x.doc_id = xs.doc_id JOIN sp ys ON y.doc_id = ys.doc_id " +
        "WHERE xs.split <> ys.split GROUP BY 1, 2, 3, 4), " +
        "mj AS (SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b, " +
        "round(max(CAST(ns AS DOUBLE) / CAST(a.ksn + b.ksn - ns AS DOUBLE)), 6) " +
        "AS mx FROM shx JOIN ksz a ON doc_a = a.doc_id " +
        "JOIN ksz b ON doc_b = b.doc_id GROUP BY 1, 2), " +
        "nm AS (SELECT DISTINCT split FROM sp), " +
        "scaf AS (SELECT x.split AS split_a, y.split AS split_b " +
        "FROM nm x CROSS JOIN nm y WHERE x.split < y.split) " +
        "SELECT scaf.split_a, scaf.split_b, " +
        "CAST(coalesce(n_dups, 0) AS BIGINT) AS n_straddling_dups, " +
        "coalesce(mx, 0.0) AS max_cross_jaccard FROM scaf " +
        "LEFT JOIN str USING (split_a, split_b) " +
        "LEFT JOIN mj USING (split_a, split_b)")),
    // --- budgeted quality selection [ext]: the curation endgame — q202's
    // waterfilled per-source token budget filled BEST FIRST under q203's
    // deterministic quality key (instead of q210's seeded-random order);
    // a doc is selected iff its preceding cumulative tokens sit below the
    // source's allocation. Budget 26000 at sf0.01 makes the cut bind for
    // the larger sources while the smaller ones keep everything (both
    // branches fire). In-suite budget: one tokenize pass + |sources|-grain
    // windows, <= 3 s ---
    QuerySpec("q215_budgeted_quality", ((s, d) =>
      TextFeatures.budgetedQualitySelection(t(s, d, "documents"),
        budgetTokens = 26000L)),
      // budgeted-quality replay: q202's waterfill at maxEpochs = 1.0 (every
      // source in the ranking, zero-cap sources allocate 0 and their docs
      // fail the cum < alloc cut), then q203's quality order with a running
      // token sum cut per source
      (s"WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents), " +
        "f AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CASE WHEN len(toks) > 0 THEN CAST(floor(CAST(len(list_distinct(toks)) AS DOUBLE) " +
        "* 1000000 / CAST(len(toks) AS DOUBLE) + 0.5) AS BIGINT) ELSE 0 END AS distinct_micro " +
        "FROM t), " +
        "ps AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_tokens, " +
        "CAST(floor(CAST(sum(n_tokens) AS DOUBLE) * 1.0) AS BIGINT) AS cap_tokens " +
        "FROM f GROUP BY 1), " +
        s"${waterfillCtes("", 26000)}, " +
        "al AS (SELECT source, least(cap_tokens, " +
        "CAST(floor(coalesce(theta, CAST(cap_tokens AS DOUBLE))) AS BIGINT)) AS alloc_tokens " +
        "FROM rk CROSS JOIN th), " +
        "r AS (SELECT f.doc_id, f.source, f.n_tokens, f.distinct_micro, al.alloc_tokens, " +
        "coalesce(sum(f.n_tokens) OVER (PARTITION BY f.source " +
        "ORDER BY f.distinct_micro DESC, f.n_tokens DESC, f.doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before " +
        "FROM f JOIN al USING (source)) " +
        "SELECT doc_id, source, n_tokens, distinct_micro, " +
        "CAST(cum_before AS BIGINT) AS cum_before FROM r WHERE cum_before < alloc_tokens")),
    // --- classifier serving lifecycle [ext]: train the NB filter on the
    // en-vs-pool labels, SAVE it to a lake (weights/meta tables), LOAD it
    // back, score the whole corpus against the loaded model — must
    // hash-equal q212's in-line training (one shared oracle SQL; the
    // q209 serve-roundtrip discipline applied to the classifier).
    // In-suite budget: q212's weight + two tiny lake tables, <= 3 s ---
    QuerySpec("q214_nb_serve", { (s, d) =>
      val docs = t(s, d, "documents")
      val m = graft.text.QualityClassifier.trainQualityClassifier(docs,
        col("lang") === "en", col("lang") =!= "en")
      val lake = graft.tables.TempLakes.lake(s, "graft_nb_lake")
      graft.text.QualityClassifier.saveClassifier(lake, "m", m)
      graft.text.QualityClassifier.scoreWithClassifier(
        graft.text.QualityClassifier.loadClassifier(lake, "m"), docs)
    },
      nbClassifierSql),
    // --- budgeted sample plan [ext]: q202's waterfilled allocation
    // materialized into the per-document training plan — whole epochs by
    // integer division, the fractional epoch filled in seeded md5 order
    // until its token budget is covered; at sf0.01 both the capped
    // (whole-epochs-only) and waterfilled (partial-epoch) branches fire ---
    QuerySpec("q210_budgeted_sample", ((s, d) =>
      TextFeatures.budgetedSamplePlan(t(s, d, "documents"),
        budgetTokens = 49000L, maxEpochs = 2.0)),
      // budgeted-plan replay: q202's allocation chain, whole epochs by // on
      // longs, the partial-epoch cut from a per-source running token sum
      // over the seeded md5 order (q157's u construction)
      (s"WITH t0 AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS nt FROM documents), " +
        "ps AS (SELECT source, CAST(sum(nt) AS BIGINT) AS t_tokens, " +
        "CAST(floor(CAST(sum(nt) AS DOUBLE) * 2.0) AS BIGINT) AS cap_tokens " +
        "FROM t0 GROUP BY 1), " +
        s"${waterfillCtes("", 49000)}, " +
        "al AS (SELECT source, t_tokens, " +
        "least(cap_tokens, CAST(floor(coalesce(theta, CAST(cap_tokens AS DOUBLE))) " +
        "AS BIGINT)) AS alloc_tokens FROM rk CROSS JOIN th), " +
        samplePlanSql("al"))),
    // --- LM serving lifecycle, oracle-checked [ext]: train the bigram LM
    // on the en slice, SAVE it to a lake (bigram/unigram/meta tables),
    // LOAD it back, score the non-en pool against the loaded model — the
    // q184 serve-roundtrip discipline applied to the LM; the result must
    // hash-equal q200's in-line training (one shared oracle SQL) ---
    QuerySpec("q209_lm_serve", { (s, d) =>
      val docs = t(s, d, "documents")
      val m = graft.text.LangModel.trainLm(docs, col("lang") === "en")
      val lake = graft.tables.TempLakes.lake(s, "graft_lm_lake")
      graft.text.LangModel.saveLm(lake, "m", m)
      graft.text.LangModel.scoreWithLm(
        graft.text.LangModel.loadLm(lake, "m"),
        docs.filter(col("lang") =!= "en"))
    },
      // the serve roundtrip must land exactly where in-line training does —
      // q200's SQL verbatim is the whole contract
      lmPerplexitySql),
    // --- refinery with the CCNet LM stage [ext]: gate -> perplexity-tail
    // drop (en-trained Stupid-Backoff LM, q200/q201's machinery) -> exact
    // + shingle-verified near-dup -> cap -> chunk; the full composition a
    // CCNet-style pipeline actually runs. EVEN half-slice (q186's
    // pattern — q169 carries full-corpus E2E timing) ---
    QuerySpec("q208_refinery_lm", ((s, d) =>
      graft.text.Refinery.refine(
        t(s, d, "documents").filter(col("doc_id") % 2 === 0),
        graft.text.Refinery.Config(
          lmFilter = Some(graft.text.Refinery.LmFilter("lang = 'en'",
            tailPermille = 300))))),
      // refinery+LM replay: gate, the q200 LM chain over the gated slice
      // (suffixed CTEs — the refinery chain also names an `sc`), the q201
      // rank cutoff for the tail tier, then q169's dedup/cap/chunk respell
      // over the survivors
      ("WITH RECURSIVE gt AS (SELECT doc_id, source, lang, text FROM " +
        s"(SELECT doc_id, source, lang, text, $toksSql AS toks FROM documents " +
        "WHERE doc_id % 2 = 0) " +
        "WHERE len(toks) >= 20 AND " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.2), " +
        s"$lmTailCtes, " +
        "lmk AS (SELECT gt.doc_id, gt.source, gt.text FROM gt " +
        "LEFT JOIN tl9 ON gt.doc_id = tl9.doc_id WHERE tl9.doc_id IS NULL), " +
        refineryKeepersCtes("lmk") + ", " +
        s"${nearDupClosureCtes("0.8")}, $removedCte, $keptCte, " +
        capChunkSql("kept"))))
}
