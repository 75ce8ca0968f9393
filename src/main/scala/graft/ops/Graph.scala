package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.functions.money.r2

/** Graph layer — the reference's declared-but-empty graph notebook
  * (`04_qraph_db.ipynb`; "Graph-based modeling" named as a downstream goal in
  * NB 01 cell 14) expressed as DataFrame vertex/edge tables. Property-graph
  * algorithms that matter at 100 TB (degree, co-occurrence, neighborhood
  * aggregates) are plain shuffled aggregates/self-joins; GraphX interop is a
  * one-liner from the edge DataFrame when iterative algorithms are needed.
  */
object Graph {

  /** Customer -> part purchase edges with quantity/revenue weights (one
    * shuffle: lineitem ⋈ orders on the order key, then agg). */
  def purchaseEdges(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("src_custkey"), col("l_partkey").as("dst_partkey"))
      .agg(
        count(lit(1)).as("n_purchases"),
        r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("total_spend"))

  /** Out-degree per customer: how many distinct parts they bought. */
  def customerDegree(edges: DataFrame): DataFrame =
    edges.groupBy(col("src_custkey"))
      .agg(count(lit(1)).as("degree"), sum("n_purchases").as("n_purchases"))

  /** Co-purchase pairs: parts appearing in the same order (the classic
    * "bought together" edge set). Semantically a strict (a.pk < b.pk)
    * self-equi-join on the order key, but executed as ONE pass: group lines
    * per order, generate the in-order pairs from the sorted part array with
    * higher-order functions, explode, count. That is 1 scan + 2 shuffles
    * versus the self-join's 2 scans + 3 shuffles, and the pair blow-up stays
    * bounded by lines-per-order either way. Duplicate parts in one order
    * keep self-join multiset semantics (equal pairs excluded, multiplicity
    * preserved) — spec-asserted. */
  def coPurchasePairs(lineitem: DataFrame, minCount: Long = 2): DataFrame = {
    val parts = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("pks"))
    val pairs = parts.select(explode(flatten(transform(col("pks"),
      (x, i) => transform(
        filter(slice(col("pks"), i + 2, greatest(size(col("pks")) - i - 1, lit(0))),
          y => y > x),
        y => struct(x.as("part_a"), y.as("part_b")))))).as("p"))
    pairs.groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_together"))
      .filter(col("n_together") >= minCount)
  }

  /** Association lift of co-purchased part pairs: lift(a,b) =
    * P(a,b) / (P(a) P(b)) over order baskets — the recommendation-quality
    * signal behind "bought together" (>1 = positive association). All
    * containment counts are order-level DISTINCT, pair generation reuses
    * the join-free sorted-basket expansion, and item counts broadcast into
    * the pair join. One final all-integer-inputs division, rounded at 6 dp.
    */
  def coPurchaseLift(lineitem: DataFrame, minTogether: Long = 3): DataFrame = {
    // distinct containment WITHOUT a shared `distinct()` stage: collect_set
    // and countDistinct dedup inside their own (map-side-combined)
    // aggregates, so each consumer is scan -> one agg, not scan -> distinct
    // shuffle -> agg recomputed per branch
    val total = lineitem.agg(countDistinct(col("l_orderkey")).as("n_orders_total"))
    val itemCounts = lineitem.groupBy("l_partkey")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val baskets = lineitem.groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
    val pairs = baskets.select(explode(flatten(transform(col("pks"),
      (x, i) => transform(
        slice(col("pks"), i + 2, greatest(size(col("pks")) - i - 1, lit(0))),
        y => struct(x.as("part_a"), y.as("part_b")))))).as("p"))
      .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_together"))
      .filter(col("n_together") >= minTogether)
    pairs.crossJoin(total)
      .join(broadcast(itemCounts.withColumnRenamed("l_partkey", "part_a")
        .withColumnRenamed("n_orders", "n_a")), Seq("part_a"))
      .join(broadcast(itemCounts.withColumnRenamed("l_partkey", "part_b")
        .withColumnRenamed("n_orders", "n_b")), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("n_together"),
        round(col("n_together").cast("double") *
          col("n_orders_total").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
  }

  /** The undirected (src, dst) long edges of a pair table: both
    * orientations from ONE pass over the pair plan (a union with its swap
    * would run it twice), self-loops and nulls dropped, deduped. Not
    * partitioned on `src`: the flat cached leaf would not report it. */
  private def undirectedEdges(pairs: DataFrame, srcCol: String, dstCol: String): DataFrame =
    pairs.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .na.drop().filter(col("src") =!= col("dst")).distinct()

  /** Connected components of a pair/edge table — DataFrame-native iterative
    * min-label propagation with pointer jumping. Every vertex converges to
    * the MINIMUM vertex id in its component (a deterministic canonical
    * label, same contract as GraphX's built-in). Input: two long columns
    * naming the edge endpoints. Output: one row per vertex with its
    * component id.
    *
    * Each round does two hash-joins per vertex set: (1) neighbor-min —
    * `label(v) := min(label(v), min over neighbors' labels)` — and
    * (2) pointer jumping — `label(v) := label(label(v))` — which halves the
    * label-forwarding chains so convergence is O(log diameter) rounds, not
    * O(diameter) (the small-star contraction idea of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). All state is
    * Dataset-level persists in the SQL cache manager: every intermediate
    * round is released here as soon as its successor materializes, and
    * the ONLY surviving cache entry is the materialized result
    * ([[Caching.materialize]]), so [[Caching.release]] on it reclaims
    * everything. An edge set with no edges (no pairs, or only self-loops
    * and nulls) yields an empty (part, component) frame that holds no
    * cache entry and costs no job beyond the edge count. No RDD-level
    * blocks are created (the prior GraphX implementation leaked Pregel's
    * internally-persisted vertex/edge/message RDDs, which
    * `cacheManager.clearCache()` cannot reach).
    *
    * Scale: edges shuffle-partition on the join key each round; rounds are
    * log-bounded, and `MEMORY_AND_DISK` persists (the `persist()` default)
    * make eviction-triggered lineage recomputation (the usual iterative-DAG
    * hazard) a disk read instead of a cascade. This is the operator behind cluster-level dedup
    * ([[graft.text.Dedup.dedupCorpusShingle]] uses it on the near-dup pair graph). */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
                          smallGraphEdgeCap: Long = 1L << 17): DataFrame =
    Caching.scoped { scope =>
      val edges = scope.materialize(undirectedEdges(pairs, srcCol, dstCol))
      val nEdges = GraftSqlBridge.fillCache(edges) // read off the filled entry
      if (nEdges == 0L)
        pairs.sparkSession.createDataFrame(Seq.empty[(Long, Long)]).toDF("part", "component")
      // SMALL-GRAPH FAST PATH: below the cap (≈2 MB of long pairs at the
      // default), a driver-side union-find with min-root union returns the
      // IDENTICAL (vertex, min-reachable-id) labeling in ONE job instead of
      // the loop's ~8 (each round = 2 joins + persist + 2 counts over
      // 32-partition frames whose per-task scheduling dwarfs the data —
      // measured ~2.5 s for a 50-edge near-dup graph). The cap is on the
      // MATERIALIZED edge count, so the decision costs one cache read and a
      // billion-edge graph at corpus scale always takes the distributed
      // loop. The same bounded-driver-state rule as the k-means trainer
      // (Similarity.trainSample): collect only what a constant bounds.
      else if (nEdges <= smallGraphEdgeCap) {
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val rows = edges.collect()
        rows.foreach { r =>
          val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
          // min-root union: every tree's root stays its component's min id,
          // so find(v) IS the loop's min-reachable label
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        // edges carry both orientations, so src alone covers every vertex
        val verts = rows.map(_.getLong(0)).distinct
        Caching.materialize(pairs.sparkSession
          .createDataFrame(verts.map(v => (v, find(v))).toIndexedSeq)
          .toDF("part", "component"))
      } else {
        // round 0 fused into init: label(v) = min(v, min neighbor). Near-dup
        // components are mostly cliques (all pairs above threshold), which this
        // single pass already converges — the loop then just confirms.
        var assign = scope.materialize(edges.groupBy(col("src"))
          .agg(min(col("dst")).as("mn"))
          .select(col("src").as("v"), least(col("src"), col("mn")).as("component")))
        // one propagation round over a (v, prev_c, component) frame: (1)
        // neighbor-min message pass, then (2) pointer jumping — follow my
        // label's own label (labels are always vertex ids within the same
        // component, so the lookup is closed). `prev_c` rides through untouched
        // so a multi-round chain can count changes against the chain's start.
        def step(a: DataFrame): DataFrame = {
          val lbl = a.select(col("v"), col("component"))
          val nbrMin = edges
            .join(lbl.select(col("v").as("src"), col("component").as("c")), Seq("src"))
            .groupBy(col("dst").as("v")).agg(min(col("c")).as("nbr"))
          val stepped = a.select(col("v"), col("prev_c"), col("component"))
            .join(nbrMin, Seq("v"), "left")
            .select(col("v"), col("prev_c"),
              least(col("component"), coalesce(col("nbr"), col("component"))).as("mid"))
          stepped.as("s")
            .join(lbl.select(col("v").as("lv"), col("component").as("lc")).as("l"),
              col("s.mid") === col("lv"), "left")
            .select(col("s.v").as("v"), col("s.prev_c").as("prev_c"),
              least(col("s.mid"), coalesce(col("lc"), col("s.mid"))).as("component"))
        }
        var changed = 1L
        while (changed > 0) {
          // exactly ONE round per materialization: chaining un-materialized
          // rounds re-executes the earlier round's joins once per reference
          // (Spark reuses only identical Exchanges, not arbitrary subplans —
          // measured ~1.5x slower with two chained rounds per check). Each
          // round is a flat leaf, so no round's plan nests its predecessor's
          val doubled = scope.materialize(step(
              assign.select(col("v"), col("component").as("prev_c"), col("component"))))
          changed = doubled.filter(col("component") < col("prev_c")).count()
          Caching.release(assign) // successor is materialized
          assign = doubled
        }
        Caching.materialize(assign.select(col("v").as("part"), col("component")))
      }
    }

  /** Integer PageRank over an undirected pair/edge table — power iteration
    * in EXACT long arithmetic so the result is deterministic and
    * cross-engine replayable: ranks live in fixed-point units of
    * 1/`scale`, each round a vertex sends `rank div outdeg` to every
    * neighbor, and `rank' = (15·scale) div 100 + (85·Σ incoming) div 100`
    * (the Brin–Page damped form; the undirected closure gives every vertex
    * outdeg ≥ 1, so there is no dangling mass to redistribute). Long sums
    * are associative and commutative EXACTLY — unlike floating-point
    * PageRank, partition order cannot perturb low bits, which is what lets
    * a SQL oracle replay the whole iteration hash-identically (the q174
    * gate unrolls it declaratively). Truncation loses < outdeg/scale of a
    * vertex's relative mass per round — at the default micro-unit scale,
    * noise ~1e-6, far below any ranking use.
    *
    * Scale shape: the edge set is materialized once and every round
    * re-reads that cache; one round = one vertex-sized shuffle of
    * (dst, share) with map-side combine, one shuffle of the cached edges
    * on `src` ([[undirectedEdges]]) + one vertex-sized left join. The
    * `iters` rounds chain LAZILY into a single action — each round
    * references its predecessor once, so the plan is linear in `iters`
    * and nothing intermediate is persisted. Overflow
    * headroom: total mass ≈ scale·|V|, so 85·Σ stays under Long.Max up to
    * ~10^11 vertices at the default scale. Cache contract as
    * [[connectedComponents]]: the returned frame is the only surviving
    * entry; releasing it reclaims everything. */
  def pageRankInt(pairs: DataFrame, srcCol: String, dstCol: String,
                  iters: Int = 4, scale: Long = 1000000L): DataFrame =
    Caching.scoped { scope =>
      val edges = scope.materialize(undirectedEdges(pairs, srcCol, dstCol))
      val base = scope.materialize(
        edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("outdeg")))
      var r = base.select(col("v"), col("outdeg"), lit(scale).as("rank"))
      for (_ <- 1 to iters) {
        val inSum = edges
          .join(r.select(col("v").as("src"),
            expr("rank div outdeg").as("share")), Seq("src"))
          .groupBy(col("dst").as("v")).agg(sum(col("share")).as("in_sum"))
        r = base.join(inSum, Seq("v"), "left")
          .select(col("v"), col("outdeg"),
            (lit(15L * scale / 100L) +
              expr(s"(85 * coalesce(in_sum, 0L)) div 100")).as("rank"))
      }
      Caching.materialize(
        r.select(col("v").as("part"), col("rank").as("rank_micro")))
    }

  /** Frequent co-purchase TRIPLES (3-itemsets): the classic APRIORI prune,
    * then baskets expand to their C(k,3) increasing part triples inside one
    * higher-order expression (join-free, same pattern as
    * [[coPurchasePairs]]), then one hash aggregate counts support.
    *
    * The prune is what makes the cubic stage long-tail-safe: an item in a
    * frequent triple must occur in at least TWO frequent pairs (two of the
    * triple's own pairs contain it — the downward-closure property), so
    * baskets are restricted to those items BEFORE the C(k,3) expansion.
    * Surviving triples keep their exact counts (removing an item from a
    * basket only kills triples containing that item, all provably
    * infrequent), so the pruned result is identical to the naive expansion
    * — GraphSpec pins the equality. A 200-item pathological basket with no
    * frequent pairs now expands to nothing instead of 1.3M triples; the
    * prune pass itself is pair-sized (C(k,2) ≪ C(k,3)) plus one semi-join
    * whose build side is the frequent-pair item head (AQE broadcasts it).
    * Distinct-items semantics (collect_set): a duplicate part in one order
    * doesn't double-count the triple. */
  def coPurchaseTriples(lineitem: DataFrame, minCount: Long = 2): DataFrame = {
    val keepItems = coPurchasePairs(lineitem, minCount)
      .select(explode(array(col("part_a"), col("part_b"))).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("np"))
      .filter(col("np") >= 2).select("l_partkey")
    val baskets = lineitem.join(keepItems, Seq("l_partkey"), "left_semi")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
      .filter(size(col("pks")) >= 3)
    val triples = baskets.select(explode(flatten(transform(col("pks"),
      (x, i) => flatten(transform(
        slice(col("pks"), i + 2, greatest(size(col("pks")) - i - 1, lit(0))),
        (y, j) => transform(
          slice(col("pks"), i + j + lit(3),
            greatest(size(col("pks")) - i - j - 2, lit(0))),
          z => struct(x.as("part_a"), y.as("part_b"), z.as("part_c")))))))).as("t"))
    triples.groupBy(col("t.part_a").as("part_a"), col("t.part_b").as("part_b"),
        col("t.part_c").as("part_c"))
      .agg(count(lit(1)).as("n_together"))
      .filter(col("n_together") >= minCount)
  }

  /** Triangle census of an undirected edge list (edges stored once as
    * a < b) via DEGREE ORIENTATION — the production algorithm: orient every
    * edge toward its higher-(degree, id) endpoint, pivot wedges only on
    * out-neighborhoods, close against an oriented edge. Out-degrees under
    * this total order are O(√m), so wedge work is O(m^1.5) regardless of
    * hubs — the id-ordered form's Σ deg(v)² blow-up on a star graph never
    * happens (a degree-10⁶ hub pivots ~0 wedges here because all its edges
    * point INTO it). Every triangle is counted exactly once: its vertices
    * admit exactly one increasing (deg, id) ordering, and only the
    * lowest-ranked vertex pivots. Identical output to
    * [[triangleCountIdOrdered]] (GraphSpec pins it, including on a hub
    * graph). Returns one row: (n_vertices, n_edges, n_triangles). */
  def triangleCount(edges: DataFrame, aCol: String = "part_a",
                    bCol: String = "part_b"): DataFrame = Caching.scoped { scope =>
    // degree agg + orient + counts
    val und = scope.materialize(edges.select(col(aCol).as("a"), col(bCol).as("b")))
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient toward the higher (deg, id) endpoint; carry the dst rank so the
    // wedge join can order a pivot's out-neighbors without re-joining degrees
    val lowFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // wedge sides + closing side
    val oriented = scope.materialize(und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, struct(col("db").as("d"), col("b").as("v")))
          .otherwise(struct(col("da").as("d"), col("a").as("v"))).as("dr"))
      .select(col("src"), col("dr").getField("v").as("dst"), col("dr")))
    // wedges = ordered pairs of out-neighbors of one pivot; the higher-
    // ranked pair is a triangle iff it is itself an oriented edge
    val tris = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dr") < col("e2.dr"))
      .select(col("e1.dst").as("wa"), col("e2.dst").as("wc"))
      .join(oriented.as("e3"),
        col("wa") === col("e3.src") && col("wc") === col("e3.dst"), "left_semi")
    val verts = und.select(explode(array(col("a"), col("b"))).as("v"))
    Caching.materialize(tris.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(verts.agg(countDistinct(col("v")).as("n_vertices")))
      .select(col("n_vertices"), col("n_edges"), col("n_triangles")))
  }

  /** The id-ordered compact-forward census, kept as the readable reference
    * form [[triangleCount]] is verified against: wedges (a,b)x(b,c) with
    * a < b < c close against (a,c). Same contract and output; wedge cost is
    * Σ deg(v)² (hub-sensitive), which is why the degree-oriented form is
    * the production default. */
  def triangleCountIdOrdered(edges: DataFrame, aCol: String = "part_a",
                             bCol: String = "part_b"): DataFrame = Caching.scoped { scope =>
    // three consumers (wedge join, edge count, vertex count) — persist so an
    // expensive upstream edge derivation (e.g. basket pair generation)
    // materializes once, not three times. [[Caching]] contract: the persist
    // is a scoped interim; the returned 1-row census is materialized.
    val e = scope.materialize(edges.select(col(aCol).as("a"), col(bCol).as("b")))
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e1.b").as("wb"), col("e2.b").as("wc"))
    val tris = wedges.join(e.as("e3"),
      col("wa") === col("e3.a") && col("wc") === col("e3.b"), "left_semi")
    val verts = e.select(explode(array(col("a"), col("b"))).as("v"))
    Caching.materialize(tris.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(verts.agg(countDistinct(col("v")).as("n_vertices")))
      .select(col("n_vertices"), col("n_edges"), col("n_triangles")))
  }

  /** GraphX interop: the purchase graph as Graph[VD, ED] for iterative
    * algorithms (connected components, PageRank). Part ids are offset into a
    * disjoint vertex-id space. */
  def toGraphX(edges: DataFrame, partIdOffset: Long = 1L << 40):
      org.apache.spark.graphx.Graph[Null, Long] = {
    val e = edges.select("src_custkey", "dst_partkey", "n_purchases")
      .rdd.map(r => org.apache.spark.graphx.Edge(
        r.getLong(0), r.getLong(1) + partIdOffset, r.getLong(2)))
    org.apache.spark.graphx.Graph.fromEdges(e, null.asInstanceOf[Null])
  }
}
