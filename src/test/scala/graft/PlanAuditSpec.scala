package graft

/** Plan-shape audit: the properties that decide 100 TB viability, asserted
  * on the actual executed plans at sf0.001 — column pruning reaches the
  * scan, filters push into DataFilters, small/filtered join sides broadcast,
  * and per-key operators shuffle exactly once. A regression that silently
  * widens a scan or adds a shuffle fails here, not in production.
  */
class PlanAuditSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def executedPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, d)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("fact star join prunes the lineitem scan to the projected columns") {
    val plan = executedPlan("q11_fact_sales")
    // lineitem has 11 columns; the fact projection needs 6
    val scan = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).get
    val readCols = "\\[([a-z_#0-9L,]+)\\]".r.findFirstMatchIn(scan).get.group(1)
    // the fact projection + join keys need 7 of lineitem's 11 columns
    assert(readCols.split(",").length <= 7, s"lineitem scan too wide: $readCols")
    assert(!readCols.contains("l_returnflag") && !readCols.contains("l_shipdate"))
  }

  test("scoped anti-join pushes the month filter and broadcasts the build side") {
    val plan = executedPlan("q58_parts_not_shipped")
    assert(plan.contains("LeftAnti"), plan.take(400))
    assert(plan.contains("BroadcastExchange"), plan.take(400))
    assert(plan.contains("month("), "month predicate did not reach the scan side")
  }

  test("interval join filters event types at the scan, joins on the user key") {
    val plan = executedPlan("q50_views_before_purchase")
    assert(plan.contains("= purchase)") && plan.contains("= view)"),
      "event_type filters not pushed into DataFilters")
    assert(plan.contains("user_id"), plan.take(400))
  }

  /** Count shuffles in the pre-AQE plan (the final-plan print elides
    * already-materialized query stages, so count on the initial section). */
  private def shuffles(plan: String): Int = {
    val section = plan.split("== Initial Plan ==").last
    section.linesIterator.count(_.contains("Exchange hashpartitioning"))
  }

  test("window dedup shuffles once on the partition key") {
    val plan = executedPlan("q52_latest_event_per_user")
    assert(shuffles(plan) === 1, s"expected exactly 1 shuffle:\n${plan.take(600)}")
    // rank-limit pushdown: only the per-key top row survives to the shuffle
    assert(plan.contains("WindowGroupLimit"), "missing WindowGroupLimit pushdown")
  }

  test("per-customer aggregate shuffles once with map-side partials") {
    val plan = executedPlan("q01_orders_per_customer")
    assert(shuffles(plan) === 1, s"expected exactly 1 shuffle:\n${plan.take(600)}")
    assert(plan.contains("partial_count"), "map-side partial aggregation missing")
  }

  test("slim revenue fact joins three tables only, customer broadcast") {
    val plan = executedPlan("q14_revenue_rollup")
    // the report touches lineitem/orders/customer; the other four star
    // dimensions must not be scanned at all
    for (tbl <- Seq("part.parquet", "supplier.parquet", "nation.parquet", "region.parquet"))
      assert(!plan.contains(tbl), s"unused dimension scanned: $tbl")
    assert(plan.contains("BroadcastExchange"), "customer should broadcast")
  }

  test("co-purchase pairs build without any join operator") {
    val plan = executedPlan("q33_copurchase_pairs")
    assert(!plan.contains("Join"), "pair generation should be join-free (HOF explode)")
    // one shuffle to group lines per order, one for the pair counts
    assert(shuffles(plan) <= 2, s"expected <=2 shuffles:\n${plan.take(600)}")
  }

  test("hash sample is a pure map: no shuffle, filter reaches the scan") {
    val plan = executedPlan("q74_hash_sample")
    assert(shuffles(plan) === 0, s"expected no shuffle:\n${plan.take(600)}")
    assert(plan.contains("md5"), "hash filter missing from the plan")
  }

  test("merge upsert anti-joins against broadcast update keys, no extra shuffle") {
    val plan = executedPlan("q70_merge_upsert")
    assert(plan.contains("LeftAnti"), "untouched-rows side must be a left-anti join")
    // the CDC batch's bare key projection is small -> broadcast, so the
    // target table never shuffles for the merge
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"update keys should broadcast:\n${plan.take(600)}")
    assert(plan.contains("Union"), "merged output should be a plan-level union")
  }

  test("token chunking is generate-only: no exchange anywhere in the plan") {
    val plan = executedPlan("q94_token_chunks")
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle:\n${plan.take(600)}")
    assert(plan.contains("Generate"), "chunk starts should come from a generator")
  }

  test("sequence packing shuffles once, on the source partition key") {
    val plan = executedPlan("q95_sequence_packing")
    assert(shuffles(plan) === 1, s"expected exactly 1 shuffle:\n${plan.take(600)}")
    assert(plan.contains("Window"), plan.take(400))
  }

  test("decontamination dedups shingles BEFORE the cross-split join") {
    val plan = executedPlan("q93_decontamination")
    val section = plan.split("== Initial Plan ==").last
    // both sides must aggregate (distinct) before the join; the join key is
    // the 64-bit shingle hash, not the shingle string
    val joinLine = section.linesIterator.find(l =>
      l.contains("Join") && l.contains("h#")).getOrElse("")
    assert(joinLine.nonEmpty, s"expected the join keyed on the hash:\n${section.take(800)}")
    val beforeJoin = section.substring(0, section.indexOf(joinLine))
    assert(!beforeJoin.contains("FileScan"),
      "join should sit above distinct aggregates, not directly on scans")
  }

  test("per-source cap pushes the rank limit below the exchange") {
    val plan = executedPlan("q100_per_source_cap")
    assert(shuffles(plan) === 1, s"expected exactly 1 shuffle:\n${plan.take(600)}")
    // WindowGroupLimit appears on BOTH sides of the exchange: partial limit
    // before the shuffle means at most k rows per source ever move
    val section = plan.split("== Initial Plan ==").last
    assert(section.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"missing partial rank-limit pushdown:\n${section.take(800)}")
  }

  test("correlated scalar subquery decorrelates to aggregate + equi-join") {
    val plan = executedPlan("q97_above_own_avg")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"decorrelation fell back to a nested loop:\n${plan.take(600)}")
    assert(plan.contains("Join"), "expected the rewritten equi-join")
  }

  test("partitioned table join gets dynamic partition pruning") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    // fact partitioned on the join key's column; dim carries a selective filter
    spark.read.parquet(s"$d/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    // dim must be a real source: a LocalRelation folds the filter away
    // before planning, and DPP needs to SEE a selective predicate
    Seq(("F", "final"), ("O", "open"), ("P", "pending"))
      .toDF("status", "label")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val q = fact.join(dim, col("o_orderstatus") === col("status"))
      .filter(col("label") === lit("final"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n${plan.take(800)}")
  }

  test("nested-struct projection prunes the parquet scan to the touched subfield") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-nested").toString
    graft.ops.Documents.nest(
      spark.read.parquet(s"$d/orders.parquet"),
      spark.read.parquet(s"$d/lineitem.parquet"))
      .write.mode("overwrite").parquet(dir)
    // touch ONE subfield of the items array-of-struct; the scan's ReadSchema
    // must narrow to that leaf, not materialize the full struct (at 100 TB
    // nested payloads dominate scan bytes — leaf pruning is the whole game).
    // NOTE: the pruner recognizes direct field extraction (items.l_quantity
    // = GetArrayStructFields) but NOT access through HOF lambdas — reaching
    // into the struct inside transform() keeps the full struct in the scan,
    // so hot paths should extract leaves BEFORE applying lambdas.
    val q = spark.read.parquet(dir)
      .select(col("o_orderkey"),
        org.apache.spark.sql.functions.aggregate(
          col("items.l_quantity"),
          org.apache.spark.sql.functions.lit(0.0), (a, x) => a + x).as("qty"))
    q.collect()
    val scan = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("FileScan parquet")).get
    assert(scan.contains("l_quantity"), s"pruned subfield missing from scan: $scan")
    assert(!scan.contains("l_extendedprice") && !scan.contains("l_partkey"),
      s"untouched subfields survived nested pruning: $scan")
  }

  test("zipf top-N selects via TakeOrderedAndProject, never a global sort") {
    val plan = executedPlan("q133_zipf_slope")
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocabulary must reduce through a per-partition top-N:\n${plan.take(600)}")
  }

  test("decile ranking runs its data-sized window partitioned by range bucket") {
    val plan = executedPlan("q117_price_deciles")
    // the two-level rank shuffles rows into __bkt groups; the only
    // unpartitioned window left runs over the bucket table
    assert(plan.contains("__bkt"),
      s"expected the range-bucket partitioning column:\n${plan.take(600)}")
  }

  test("char-bigram extraction is generate + substring, no interpreted lambda") {
    val plan = executedPlan("q163_char_perplexity")
    assert(plan.contains("Generate explode(sequence"),
      s"bigram positions should come from an exploded sequence:\n${plan.take(600)}")
    assert(!plan.contains("lambdafunction"),
      "no interpreted higher-order function may sit on the bigram hot path")
  }

  test("whitening transform is a pure map: zero exchanges") {
    val emb = graft.tables.Tables.load(spark, d, "embeddings")
    val wh = graft.sim.Similarity.whitenFit(emb)
    val plan = graft.sim.Similarity.whitenTransform(emb, wh)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"whitening must not shuffle:\n${plan.take(600)}")
  }

  test("decontamination broadcasts the bench grams; corpus side map-only") {
    val plan = executedPlan("q172_decontamination")
    // the contamination check must be a broadcast join (bench = MBs,
    // corpus = TBs), never a shuffled join of the corpus grams
    assert(plan.contains("BroadcastHashJoin"),
      s"bench gram set should broadcast:\n${plan.take(600)}")
    assert(!plan.contains("SortMergeJoin"),
      "corpus grams must not sort-merge against the bench set")
    // the only hash-exchange is the final per-doc (doc_id, longs) aggregate
    assert(shuffles(plan) <= 2, s"expected <=2 shuffles:\n${plan.take(600)}")
  }

  /** Count the FileSourceScanExec nodes over `table` in a query's physical
    * plan — the number of separate passes the execution will make over that
    * parquet source. Recurses into AQE wrappers and into each DISTINCT
    * cached relation exactly once (a persisted subtree's scan runs once at
    * cache fill no matter how many InMemoryTableScans read it), and into
    * subquery plans. A stage leaf ([[graft.ops.Caching.stage]]) is an RDD
    * scan whose plan is gone, so behind it the walk follows the RDD
    * lineage (shuffle dependencies included) and counts each distinct file
    * scan RDD over `table` once. This is the audit the Caching contract's
    * shared-subtree mode points at: an operator whose scaladoc claims "one
    * corpus pass" gets its claim pinned here, so the claim can't silently
    * drift (q163's ReuseExchange claim survived two rounds false before
    * this existed). */
  private def corpusScans(q: String, table: String): Int = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    // start from a clean cache: a stale (already-materialized) entry from an
    // earlier test would alias the operator's persist with a plan of opaque
    // query stages and hide the scan from the walk
    graft.ops.Caching.releaseAll(spark)
    val df = SparkEntry.queries(q)(spark, d)
    val seenCaches = scala.collection.mutable.Set[AnyRef]()
    val seenRdds = scala.collection.mutable.Set[Int]()
    def lineage(r: RDD[_]): Int =
      if (!seenRdds.add(r.id)) 0
      else (r match {
        case f: FileScanRDD =>
          if (f.filePartitions.exists(_.files.exists(
            _.urlEncodedPath.contains(table)))) 1 else 0
        case _ => 0
      }) + r.dependencies.map(dep => lineage(dep.rdd)).sum
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case f: FileSourceScanExec =>
          if (f.relation.location.rootPaths.exists(_.toString.contains(table))) 1
          else 0
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case st: QueryStageExec => walk(st.plan)
        case im: InMemoryTableScanExec =>
          if (seenCaches.add(im.relation.cachedPlan)) walk(im.relation.cachedPlan)
          else 0
        case leaf: RDDScanExec => lineage(leaf.rdd)
        case _ => 0
      }
      self + p.children.map(walk).sum + p.subqueries.map(walk).sum
    }
    try walk(df.queryExecution.executedPlan)
    finally graft.ops.Caching.releaseAll(spark) // reclaim operator persists
  }

  test("char-bigram perplexity reads the corpus exactly once (persisted counts)") {
    assert(corpusScans("q163_char_perplexity", "documents") === 1,
      "model + scoring branches must share ONE persisted counts pass")
  }

  test("split-drift reads the corpus exactly once (persisted vocabulary)") {
    assert(corpusScans("q165_split_drift", "documents") === 1,
      "totals + per-term branches must share ONE persisted token aggregate")
  }

  test("source JS divergence reads the corpus exactly once (persisted cells)") {
    assert(corpusScans("q147_source_js_divergence", "documents") === 1,
      "all four branches must share ONE persisted (source, lang) aggregate")
  }

  test("boilerplate ratio reads the corpus exactly twice, as documented") {
    // count-then-broadcast-back is honestly two passes (persisting the
    // data-sized gram stream would cost more than the second scan saves)
    assert(corpusScans("q173_boilerplate", "documents") === 2)
  }

  test("containment near-dup reads the corpus exactly once (persisted grams)") {
    // DF census, prune, sizes, and BOTH self-join sides all read the one
    // persisted tokenize/shingle/hash pass
    assert(corpusScans("q182_containment_dups", "documents") === 1)
  }

  test("banded containment reads the corpus exactly once (persisted grams)") {
    // sketch, evidence prune, sizes, and the exact verify all derive from
    // the same persisted gram stream as the exact form
    assert(corpusScans("q185_containment_banded", "documents") === 1)
  }

  test("gram novelty reads the corpus exactly once (persisted grams)") {
    assert(corpusScans("q183_gram_novelty", "documents") === 1)
  }

  test("NB classifier reads the corpus exactly once (persisted gram stream)") {
    // count tables AND the scoring stream both derive from the one
    // persisted tokenize/gram/hash pass (lmScore's shared-subtree shape)
    assert(corpusScans("q212_nb_classifier", "documents") === 1)
    val plan = executedPlan("q212_nb_classifier")
    // r17: the portable hash is the native token_hash60 expression (same
    // md5-derived value, digested straight to the long inside codegen)
    assert(plan.contains("token_hash60") || plan.contains("md5"),
      "grams must reduce to the portable 60-bit hash before any shuffle")
  }

  test("LM perplexity reads the corpus exactly once (persisted event stream)") {
    // the fit's count tables AND the serve's event stream both derive from
    // the one persisted tokenize/hash/explode pass (the q212 shape)
    assert(corpusScans("q200_lm_perplexity", "documents") === 1)
  }

  test("hard negatives reads the vectors twice, never a third label re-join") {
    // the r9 regression guard: extraCols ride ivfBuild's assignment
    // projection, so the plan reads embeddings exactly twice (assignment
    // side + probe side) — a third scan means the label is being recovered
    // by a corpus re-join again
    assert(corpusScans("q192_hard_negatives", "embeddings") === 2)
    assert(corpusScans("q194_knn_graph", "embeddings") === 2)
  }

  test("refinery plans stay under 64 kB, no cached relation inside another") {
    // every refinery stage hands on a flat leaf (Caching.stage); as
    // persisted plans the stages nested, and q186 printed 0.49 MB. Built at
    // sf0.01, the scale Verify gates on
    import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    def cacheScans(p: SparkPlan): Int = (p match {
      case a: AdaptiveSparkPlanExec => cacheScans(a.executedPlan)
      case st: QueryStageExec => cacheScans(st.plan)
      case _: InMemoryTableScanExec => 1
      case _ => 0
    }) + p.children.map(cacheScans).sum + p.subqueries.map(cacheScans).sum
    val rows = graft.queries.QueryRegistry.all.select("q169,q186,q187,q208")
    assert(rows.size === 4)
    val faults = rows.flatMap { row =>
      graft.ops.Caching.releaseAll(spark)
      try {
        val df = row.run(spark, d.replace("sf0.001", "sf0.01"))
        val bytes = df.queryExecution.explainString(FormattedMode)
          .getBytes("UTF-8").length
        val nested = df.queryExecution.withCachedData.collectWithSubqueries {
          case im: InMemoryRelation if cacheScans(im.cachedPlan) > 0 => im
        }.size
        Option.when(bytes > 64 * 1024)(s"${row.name}: plan is $bytes bytes") ++
          Option.when(nested > 0)(s"${row.name}: $nested cached plans read a cache")
      } finally graft.ops.Caching.releaseAll(spark)
    }
    assert(faults.isEmpty)
  }

  test("boilerplate score joins hashes, broadcasts the frequent set") {
    val plan = executedPlan("q173_boilerplate")
    assert(plan.contains("BroadcastHashJoin"),
      s"frequent set should broadcast back:\n${plan.take(600)}")
    assert(plan.contains("partial_count"),
      "doc-frequency count must combine map-side")
    assert(plan.contains("xxhash64"),
      "grams must reduce to 64-bit hashes before any shuffle")
  }
}
