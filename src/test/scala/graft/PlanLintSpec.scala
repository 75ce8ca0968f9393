package graft

/** Whole-surface plan lint: every SparkEntry query is PLANNED (not run) at
  * sf0.001 and checked for the two join shapes that do not survive scale —
  * an unbounded CartesianProduct, or a BroadcastNestedLoopJoin that is not
  * one of the intentional 1-row scalar cross-joins. A new query that
  * accidentally plans a cartesian fails here before it ever runs.
  */
class PlanLintSpec extends SparkSpec {
  import PlanLintSpec.PlanFacts

  private val d = "/root/testdata/sf0.001"

  /** Every row built and planned ONCE, shared by both tests: building the
    * frames is nearly all of this suite's time. */
  private lazy val facts: Seq[PlanFacts] = {
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val plan = fn(spark, d).queryExecution.sparkPlan
      val text = plan.toString
      PlanFacts(name, text.contains("CartesianProduct"),
        text.contains("BroadcastNestedLoopJoin"),
        plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.size)
    }
  }

  /** Queries that intentionally cross-join 1-row aggregates (scalar gates
    * and multi-metric single-row reports), plus the BRUTE-FORCE similarity
    * scorers whose corpus x broadcast(probes) loop is the operator's
    * definition — and the ANN recall GATES that compute that exact brute
    * force in-query as their truth baseline (q29/q40/q143/q153). */
  private val scalarCrossJoins = Set(
    "q05_fk_orphans", "q06_key_uniqueness", "q19_exact_dedup_stats",
    "q37_order_sketches", "q43_dedup_corpus", "q84_hll_union",
    "q92_freq_items_gate", "q90_union_by_name",
    "q28_cosine_topk", "q44_tfidf_doc_similarity",
    "q29_ann_lsh_topk", "q40_ivf_topk", "q153_ivfpq_topk",
    // chi2 densifies with a |categories_a| x |categories_b| grid cross join
    "q112_status_priority_chi2",
    // lift joins the 1-row total-orders scalar into every pair
    "q116_copurchase_lift",
    // interleave broadcasts the 1-row |sources| count into every rank row
    "q135_interleave_plan",
    // PMI joins the 1-row (total bigrams, total tokens) scalar into the
    // pruned pair table
    "q142_bigram_pmi",
    // PQ/ADC scores codes x broadcast(probe tables) — the brute-force loop
    // IS the operator (compose with IVF cells to bound candidates at scale)
    "q143_pq_topk",
    // triangle census assembles its single summary row from three 1-row
    // aggregates (vertex / edge / triangle counts)
    "q144_triangle_count",
    // KS joins the 1-row (n_a, n_b) totals scalar into the CDF rows
    "q146_ks_price_by_status",
    // JS densifies with a |sources| x |langs| grid cross join (chi2's trick)
    // plus the 1-row corpus total
    "q147_source_js_divergence",
    // Mann-Whitney joins the 1-row (n_a, n_b) totals scalar into the ranks
    "q158_mannwhitney_u",
    // datagen gate assembles six 1-row aggregates into one verdict row
    "q162_datagen_gate",
    // bigram model costs ride a 1-row total scalar into the |charset|² table
    "q163_char_perplexity",
    // drift terms ride the 1-row (tne, tnt) totals scalar into the vocab
    "q165_split_drift",
    // version drift composes the same scalar over the two snapshots
    "q211_version_drift",
    // whitening gate joins the 1-row error maxima into the 1-row anchors
    "q166_whitening_gate",
    // whitened-vs-raw recall gate: TWO brute-force truth passes (the
    // operator's definition, like q29/q40/q153) + a 1-row counts cross join
    "q170_whitened_ivf",
    // DSIR rides the 1-row (tt, tr) totals scalar into the buckets-sized
    // model table (q163/q165's pattern)
    "q190_dsir_weights",
    // DSIR resample composes dsirWeights, so it carries the same 1-row
    // totals scalar; the Gumbel key + top-K stages add no joins
    "q193_dsir_resample",
    // semantic decontam scores train x broadcast(bench) — the bench side is
    // MBs at any corpus scale (q172's broadcast contract, q28's loop shape)
    "q191_semantic_decontam",
    // LM scoring rides the 1-row (N, V) train-totals scalar into the
    // unigram model and the unknown-token default (q190's pattern)
    "q200_lm_perplexity", "q201_lm_buckets",
    // the refinery's LM stage composes the same scalar
    "q208_refinery_lm",
    // waterfilling joins the 1-row theta water level into |sources| rows
    "q202_token_budget",
    // NB classifier rides the 1-row (N_pos, N_neg) gram-totals scalar into
    // the weight table and the unseen-bucket default (q200's pattern)
    "q212_nb_classifier",
    // budgeted quality selection composes q202's allocation (theta rides in)
    "q215_budgeted_quality",
    // leakage audit's boundary scaffold is a |splits|² cross join (<= 9 rows)
    "q216_split_leakage_audit",
    // the budgeted plan composes the same allocation (theta scalar rides in)
    "q210_budgeted_sample",
    // media similarity search: corpus x broadcast(probes) brute-force
    // top-k over content descriptors — q28's loop shape on decoded media
    // (q227 additionally computes it as its recall-gate truth baseline)
    "q226_image_similarity", "q227_image_ann_ivf", "q228_audio_similarity",
    "q233_video_similarity",
    // audio ANN recall gate: the same bounded-probe brute-force truth
    // baseline as q227, over the audio descriptors
    "q254_audio_ann_ivf")

  test("no query plans a cartesian product; nested loops only on 1-row sides") {
    val offenders = facts.flatMap { f =>
      if (f.cartesian && !scalarCrossJoins(f.name)) Some(s"${f.name}: CartesianProduct")
      else if (f.bnlj && !scalarCrossJoins(f.name)) Some(s"${f.name}: BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  /** Queries whose remaining UNPARTITIONED windows run over inputs bounded
    * by construction — a bucket table (globalPrefixSums chains offsets
    * through one row per range bucket), a LIMIT/top-N survivor set, or a
    * genuinely low-cardinality grain (days, months, sources, categories) —
    * never over data-sized rows. Every entry needs a justification. */
  private val boundedGlobalWindows = Set(
    // globalPrefixSums bucket-offset chain: one row per range bucket
    "q104_rfm_scores", "q105_abc_parts", "q108_revenue_gini",
    "q117_price_deciles", "q146_ks_price_by_status", "q158_mannwhitney_u",
    // peakConcurrency bucket chain: one row per hour bucket
    "q119_peak_concurrency",
    // rank over the <= topN survivors of a TakeOrderedAndProject
    "q133_zipf_slope",
    // day-grain series: one row per calendar day in the data's span
    "q123_moving_avg", "q154_revenue_autocorr",
    // month scaffold: one row per calendar month
    "q73_month_scaffold", "q110_monthly_yoy",
    // category/source-grain shares and distributions (|categories| rows)
    "q87_price_histogram", "q89_revenue_share", "q109_source_entropy",
    "q126_benford", "q134_temperature_mixture", "q135_interleave_plan",
    "q147_source_js_divergence", "q160_share_of_parent",
    // chi2 windows over the |a|x|b| category-cell grid
    "q112_status_priority_chi2",
    // groupMode under a constant group ranks the |status categories| counts
    "q92_freq_items_gate",
    // reporting summary ranks |market segments| rows (5-ish, bounded)
    "q161_reporting_summary",
    // globalPrefixSums bucket-offset chain: one row per avg-nll range bucket
    "q201_lm_buckets", "q208_refinery_lm",
    // waterfilling windows run on the |sources| grain
    "q202_token_budget", "q210_budgeted_sample",
    // composes the waterfill: the unpartitioned window is the |sources|-
    // grain cap ranking; the per-doc running sum is source-partitioned
    "q215_budgeted_quality")

  test("no query plans an unpartitioned window over data-sized input") {
    val offenders = facts.flatMap { f =>
      if (f.globalWindows > 0 && !boundedGlobalWindows(f.name))
        Some(s"${f.name}: ${f.globalWindows} unpartitioned WindowExec")
      else None
    }
    assert(offenders.isEmpty,
      "data-sized global sort (add to boundedGlobalWindows ONLY with a " +
        "bounded-input justification): " + offenders.mkString("; "))
  }
}

object PlanLintSpec {
  /** The plan facts both tests read, one entry per row. */
  private final case class PlanFacts(name: String, cartesian: Boolean,
                                     bnlj: Boolean, globalWindows: Int)
}
