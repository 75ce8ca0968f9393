package graft.sim

import graft.ops.Caching
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the scale plan:
  *  - [[bruteForceTopK]]: exact cosine top-k for a bounded probe set —
  *    broadcast the probes, one pass over the corpus, per-probe top-k via
  *    window rank (at production scale: `TakeOrderedAndProject` per probe).
  *  - [[lshTopK]]: random-hyperplane LSH — a pure map assigns each vector a
  *    bucket signature; candidates come from an equi-join on bucket, so the
  *    corpus never self-joins. Recall/cost tuned by (numPlanes, probes).
  *
  * Vector math uses higher-order functions (`zip_with` + `aggregate`) in
  * double precision — codegen'd, left-to-right deterministic, and
  * bit-reproducible against the DuckDB oracle.
  */
object Similarity {

  /** Sequential dot product — native codegen'd expression
    * ([[graft.functions.DotProduct]]); bit-equal to the higher-order
    * spelling (same left-to-right accumulation). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  /** Higher-order dot product, kept as the reference spelling. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Higher-order-function cosine: dot/(|a|*|b|) built from zip_with +
    * aggregate. Kept as the dependency-free reference spelling. */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Cosine similarity — the native codegen'd Catalyst expression
    * ([[graft.functions.CosineSimilarity]]): one fused loop per row, no
    * intermediate array. Bit-equal to [[cosineHof]] and the DuckDB oracle
    * (same left-to-right accumulation and final formula). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Spread the STREAMED side of a compute-quadratic pair stage evenly over
    * the session's parallelism. The pair joins below do O(pairs·dim) fused
    * cosine/ADC work per input row, so their cost follows PAIR count, not
    * input bytes — but scan parallelism is byte-derived
    * (`maxPartitionBytes`/row groups), so a compact embedding/code table
    * (one parquet row group at bench scale; a few hundred MB feeding
    * billions of pairs at corpus scale) streams the whole quadratic stage
    * through a handful of tasks while the cluster idles. This is the guide
    * §2.5 "unsplittable input" case: repartition immediately, with a
    * DETERMINISTIC key (never rand() — retried tasks must reproduce the
    * assignment) spread over 100× the target width so hashing evens out,
    * and an EXPLICIT width so AQE cannot coalesce a compute-bound exchange
    * the way it coalesces byte-light ones (the q296 trap). Width is
    * `defaultParallelism` — scale-adaptive, never a constant. Row sets are
    * unchanged; downstream aggregates/windows re-key anyway. */
  private def spread(df: DataFrame, idCol: Column): DataFrame = {
    val width = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(width, pmod(xxhash64(idCol), lit(100L * width)))
  }

  /** `vec_id` (named `id`) and the embedding as `array<double>` (named
    * `vec`), then `extra` — the projection every path starts from: the
    * corpus as (vec_id, vec), a probe side as (probe_id, pvec). `vec_id`
    * is not aliased to itself, so the corpus projection keeps its plan. */
  private def vectors(df: DataFrame, id: String = "vec_id", vec: String = "vec",
                      extra: Seq[Column] = Nil): DataFrame =
    df.select(((if (id == "vec_id") col(id) else col("vec_id").as(id)) +:
      asDouble(col("embedding")).as(vec) +: extra): _*)

  /** The probe side of the probe → candidates → score → top-k chain. */
  private def probeVecs(probes: DataFrame): DataFrame =
    vectors(probes, "probe_id", "pvec")

  /** Keep the `k` first rows of each `key` group under `order`, numbered
    * 1..k in `rn` — the one per-probe top-k window of every ranked path. */
  private def topK(key: String, k: Int, order: Column*)(scored: DataFrame): DataFrame =
    scored.withColumn("rn", row_number().over(Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("rn") <= k)

  /** Top-k by cosine, ties to the lower neighbor id: (probe_id,
    * neighbor_id, cos_sim, rn). */
  private def cosineTopK(k: Int)(scored: DataFrame): DataFrame =
    scored.transform(topK("probe_id", k, desc("cos_sim"), asc("neighbor_id")))
      .select("probe_id", "neighbor_id", "cos_sim", "rn")

  /** Top-k by ADC distance, ties to the lower neighbor id: (probe_id,
    * neighbor_id, approx_dist, rn). */
  private def adcTopK(k: Int)(scored: DataFrame): DataFrame =
    scored.transform(topK("probe_id", k, asc("approx_dist"), asc("neighbor_id")))
      .select("probe_id", "neighbor_id", "approx_dist", "rn")

  /** Exact top-k neighbors for each probe vector (probes broadcast). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val c = spread(vectors(corpus, "neighbor_id", "cvec"), col("neighbor_id"))
    c.join(broadcast(probeVecs(probes)), col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosine(col("pvec"), col("cvec")).as("cos_sim"))
      .transform(cosineTopK(k))
  }

  /** Deterministic random hyperplanes (xorshift64* seeded PRNG — public
    * algorithm), materialized as plan literals so signing is a pure map. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      val x = s * 0x2545F4914F6CDD1DL
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(numPlanes)(Array.fill(dim)(next()))
  }

  /** Sign-bit bucket signature of a vector under the given hyperplanes. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    (0 until planes.length).map { i =>
      when(dot(vec, lit(planes(i))) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** Multi-table bucket signatures: array of (table, bucket) structs. L
    * independent tables of `planesPerTable` hyperplanes each — the standard
    * recall amplifier (P[collide in >=1 table] = 1-(1-p^b)^L). Pure map. */
  def lshBuckets(vec: Column, tables: Int, planesPerTable: Int, dim: Int,
                 seed: Long): Column = {
    val sigs = (0 until tables).map { t =>
      val planes = hyperplanes(planesPerTable, dim, seed + 1000L * t)
      struct(lit(t).as("tbl"), lshBucket(vec, planes).as("bucket"))
    }
    array(sigs: _*)
  }

  /** Approximate top-k: candidates share the probe's bucket in ANY of the L
    * tables (explode + equi-join on (table, bucket) — the only shuffle key);
    * exact cosine re-ranks the deduplicated candidates. Expected candidates
    * per probe ~ L * corpus / 2^planesPerTable. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              tables: Int = 8, planesPerTable: Int = 5,
              dim: Int = 64, seed: Long = 42L): DataFrame = {
    val c = spread(vectors(corpus, "neighbor_id", "cvec"), col("neighbor_id"))
      .withColumn("b", explode(lshBuckets(col("cvec"), tables, planesPerTable, dim, seed)))
    val p = probeVecs(probes)
      .withColumn("b", explode(lshBuckets(col("pvec"), tables, planesPerTable, dim, seed)))
    c.join(broadcast(p), Seq("b"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id", "pvec", "cvec")
      .dropDuplicates("probe_id", "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        cosine(col("pvec"), col("cvec")).as("cos_sim"))
      .transform(cosineTopK(k))
  }

  /** IVF (inverted-file) index: a k-means coarse quantizer partitions the
    * corpus into `nLists` cells; queries probe only the `nProbe` nearest
    * cells. The classic ANN scale path: the corpus is clustered ONCE (sampled
    * k-means fit), stored partitioned by cell id, and each query touches
    * corpus*nProbe/nLists vectors. */
  final case class IVFIndex(assigned: DataFrame, centroids: Array[Array[Double]])

  /** Driver-side training cap: every quantizer, codebook and whitener
    * trains on at most this many sampled vectors. */
  private val MaxTrainVectors = 1 << 16

  /** Deterministic hash-sample of `src`'s vectors for codebook/quantizer
    * training: keep every stride-th vector by seeded hash (a pure filter, no
    * sort), collect, and order by the hash so initialization is stable. The
    * [[MaxTrainVectors]] cap makes driver-side training size-independent of
    * the corpus.
    *
    * `portableOrder` swaps the xxhash64 ordering for `(md5(vec_id), vec_id)`
    * — an ordering ANY engine can reproduce (DuckDB has md5, not xxhash64),
    * so a 0-iteration trainer's seed selection becomes oracle-replayable
    * ([[semDedupIvf]]'s gate). Default stays xxhash64 (cheaper, and the
    * established init for the PQ/IVF recall gates). */
  private def trainSample(src: DataFrame, seed: Long,
                          portableOrder: Boolean = false): Array[Array[Double]] = {
    val n = src.count()
    // ceil, not floor: a floor stride stays 1 for n just under 2*cap and
    // would collect up to ~2x the documented driver-memory cap
    val mv = MaxTrainVectors.toLong
    val stride = math.max(1L, (n + mv - 1L) / mv)
    // the stride pre-filter must honour portableOrder too: an xxhash64
    // stride would silently break the oracle-replayable guarantee the
    // moment the corpus outgrows the cap (the replay ranks by md5, not
    // xxhash64) — use the portable 60-bit md5 hash for the keep-set as well
    val sampled =
      if (stride <= 1L) src
      else if (portableOrder)
        src.filter(pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 15),
          16, 10).cast("long"), lit(stride)) === 0)
      else src.filter(pmod(xxhash64(lit(seed), col("vec_id")), lit(stride)) === 0)
    if (portableOrder)
      sampled
        .select(col("vec_id").cast("long"),
          md5(col("vec_id").cast("string")).as("h"), col("vec"))
        .collect()
        .sortBy(r => (r.getString(1), r.getLong(0)))
        .map(_.getSeq[Double](2).toArray)
    else
      sampled
        .select(col("vec_id").cast("long"),
          xxhash64(lit(seed + 1), col("vec_id")).as("h"), col("vec"))
        .collect()
        .sortBy(r => (r.getLong(1), r.getLong(0)))
        .map(_.getSeq[Double](2).toArray)
  }

  /** Lloyd's k-means over an in-memory sample (the FAISS-style trainer —
    * quantizer centroids bound error, they never need the full corpus, so
    * the tight loop runs on the driver: deterministic, no per-iteration job
    * latency). Init = the first k sample points (callers pass a
    * hash-shuffled sample); empty clusters keep their previous centroid. */
  private def lloydFit(pts: Array[Array[Double]], k: Int, iters: Int)
      : Array[Array[Double]] = {
    require(pts.nonEmpty, "k-means needs a non-empty sample")
    val dim = pts(0).length
    var cents = Array.tabulate(k)(i => pts(math.min(i, pts.length - 1)).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      val cnts = Array.fill(k)(0L)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var kk = 0
        while (kk < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - cents(kk)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = kk }
          kk += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        cnts(best) += 1L
      }
      cents = Array.tabulate(k) { kk =>
        if (cnts(kk) == 0L) cents(kk)
        else Array.tabulate(dim)(i => sums(kk)(i) / cnts(kk))
      }
    }
    cents
  }

  /** The coarse quantizer's centroids: [[lloydFit]] over the
    * [[trainSample]] of `base` (vec_id, vec). */
  private def fitCells(base: DataFrame, nLists: Int, seed: Long, iters: Int,
                       portableInit: Boolean): Array[Array[Double]] =
    lloydFit(trainSample(base, seed, portableInit), nLists, iters)

  /** Nearest-centroid id under squared L2, with the centroids as PLAN
    * LITERALS and the native codegen'd dot product
    * (‖x‖²−2x·c+‖c‖² — ties break to the lower id via the struct min). */
  private def nearestCell(vec: Column, cents: Array[Array[Double]]): Column =
    array_min(cellDistArr(vec, cents)).getField("cell")

  /** (squared-L2 dist, cell) struct per centroid literal — the shared
    * ‖x‖²−2x·c+‖c‖² spelling of [[nearestCell]]/[[rankedCells]], exposed
    * as the raw array for consumers that need the distances themselves
    * (per-cell radii, triangle-inequality pruning). */
  private def cellDistArr(vec: Column, cents: Array[Array[Double]]): Column = {
    val n2 = dot(vec, vec)
    array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct((n2 - lit(2.0) * dot(vec, lit(c)) + lit(c.map(x => x * x).sum)).as("dist"),
        lit(i).as("cell"))
    }: _*)
  }

  /** Fit the coarse quantizer (driver-side Lloyd's over a capped
    * hash-sample — see [[lloydFit]]) and assign every corpus vector to its
    * cell in ONE distributed codegen'd projection. Deterministic under
    * `seed`. */
  def ivfBuild(corpus: DataFrame, nLists: Int = 16, seed: Long = 42L,
               iters: Int = 8, portableInit: Boolean = false,
               extraCols: Seq[String] = Nil): IVFIndex = {
    // extraCols ride the assignment projection itself (same map pass) so
    // consumers that need per-vector metadata (hardNegatives' label) never
    // re-join the corpus on vec_id to recover it
    val base = vectors(corpus, extra = extraCols.map(col))
    val cents = fitCells(base.select(col("vec_id"), col("vec")), nLists, seed,
      iters, portableInit)
    val assigned = base.withColumn("cell", nearestCell(col("vec"), cents))
    IVFIndex(assigned, cents)
  }

  /** Ranked (dist, cell) array for a probe vector against the centroid
    * literals, under the SAME ‖x‖²−2x·c+‖c‖² expression shape as
    * [[nearestCell]]: probing and assignment must agree on the metric (and
    * its float evaluation order) or boundary vectors land in cells the
    * probe ranks differently — and the dot identity is the spelling the
    * DuckDB oracle replays exactly (q176's proven-portable form). */
  private def rankedCells(pvec: Column, cents: Array[Array[Double]]): Column =
    array_sort(cellDistArr(pvec, cents))

  /** One row per probed cell: the ids of the `nProbe` cells nearest to
    * `pvec`, for `withColumn("cell", ...)`. */
  private def probeCells(pvec: Column, cents: Array[Array[Double]],
                         nProbe: Int): Column =
    explode(slice(rankedCells(pvec, cents), 1, nProbe)("cell"))

  /** Every (probe, vector) pair in the probe's `nProbe` nearest cells,
    * probe itself excluded, scored by exact cosine: (probe_id,
    * neighbor_id, cos_sim, cvec). The candidate join is an equi-join on
    * the cell id against the broadcast probes. */
  private def ivfScored(index: IVFIndex, probes: DataFrame,
                        nProbe: Int): DataFrame = {
    val p = probeVecs(probes)
      .withColumn("cell", probeCells(col("pvec"), index.centroids, nProbe))
      .select("probe_id", "pvec", "cell")
    spread(index.assigned, col("vec_id"))
      .join(broadcast(p), Seq("cell"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pvec"), col("vec")).as("cos_sim"), col("vec").as("cvec"))
  }

  /** Probe the `nProbe` nearest cells per query, exact-cosine rerank within
    * them. */
  def ivfTopK(index: IVFIndex, probes: DataFrame, k: Int, nProbe: Int = 4): DataFrame =
    ivfScored(index, probes, nProbe).transform(cosineTopK(k))

  /** Persist a built ANN index (IVF coarse quantizer + PQ codebooks/codes)
    * into lake tables — the index LIFECYCLE a serving system needs: build
    * once (the expensive corpus passes), commit versioned, serve forever
    * without rebuilding, roll back by time travel like any lake table.
    * Layout is the scale story: cell-assigned vectors land PARTITIONED BY
    * `cell`, so an `nProbe`-cell query prunes to nProbe partitions at the
    * file listing — the scan never touches unprobed cells. Centroids and
    * codebooks are dimension-sized side tables. */
  def saveIndex(lake: graft.tables.LakeTable, prefix: String,
                ivf: IVFIndex, pq: PQIndex): Unit = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    lake.write(ivf.assigned.select(col("vec_id"), col("vec"), col("cell")),
      s"${prefix}_ivf_vectors", partitionBy = Seq("cell"))
    lake.write(ivf.centroids.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cvec"),
      s"${prefix}_ivf_centroids")
    lake.write(pq.codes, s"${prefix}_pq_codes")
    lake.write(pq.codebooks.zipWithIndex.toSeq.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, kk) => (j, kk, c.toSeq) }
      }.toDF("j", "code", "cent"),
      s"${prefix}_pq_books")
  }

  /** Load a [[saveIndex]]-persisted index for serving. The driver-side
    * collects are the dimension-sized side tables only (nLists centroids,
    * m×k codebook rows) — vectors and codes stay distributed lake reads,
    * partition-pruned by cell at query time. Served results are identical
    * to the freshly-built index (spec-pinned): everything the quantizers
    * learned is in the tables, nothing is retrained. */
  def loadIndex(lake: graft.tables.LakeTable, prefix: String): (IVFIndex, PQIndex) = {
    val cents = lake.read(s"${prefix}_ivf_centroids").collect()
      .map(r => r.getAs[Int]("cell") -> r.getAs[Seq[Double]]("cvec").toArray)
      .sortBy(_._1).map(_._2)
    val assigned = lake.read(s"${prefix}_ivf_vectors")
      .select(col("vec_id"), col("vec"), col("cell"))
    val books = lake.read(s"${prefix}_pq_books").collect()
    val m = books.map(_.getAs[Int]("j")).max + 1
    val codebooks = Array.tabulate(m) { j =>
      books.filter(_.getAs[Int]("j") == j).sortBy(_.getAs[Int]("code"))
        .map(_.getAs[Seq[Double]]("cent").toArray)
    }
    (IVFIndex(assigned, cents),
      PQIndex(lake.read(s"${prefix}_pq_codes"), codebooks, m,
        codebooks(0)(0).length))
  }

  /** HARD-NEGATIVE mining for contrastive training data: for EVERY corpus
    * vector (each one an anchor), the `k` most cosine-similar vectors with
    * a DIFFERENT label — the near-miss negatives that make embedding-model
    * contrastive batches informative (easy random negatives teach nothing).
    *
    * Every vector is a probe, so nothing broadcasts: candidates come from
    * an IVF cell equi-join of the anchor's `nProbe` ranked cells against
    * the cell-assigned corpus (both sides data-sized, sort-merge — the
    * Σ|cell|²-bounded quadratic of [[semDedupIvf]], NOT an all-pairs
    * self-join; this is the standard IVF kNN-graph construction shape).
    * The label filter runs inside the join, the per-anchor top-k is a
    * probe-partitioned window. With `portableInit = true, iters = 0` the
    * whole chain is oracle-replayable (q181's contract applied to
    * graph construction). */
  def hardNegatives(corpus: DataFrame, k: Int = 2, nLists: Int = 8,
                    nProbe: Int = 2, seed: Long = 42L, iters: Int = 8,
                    portableInit: Boolean = false): DataFrame =
    cellScoredPairs(corpus, extra = Seq("label"), nLists, nProbe, seed, iters,
        portableInit)
      .filter(col("label") =!= col("anchor_label"))
      .transform(topKPerAnchor(k))
      .select(col("anchor_id"), col("neighbor_id").as("negative_id"),
        col("cos_sim"), col("rn"))

  /** kNN GRAPH over an unlabeled corpus: for every vector, its `k` most
    * cosine-similar neighbors — the substrate for graph-based clustering,
    * connectivity-based SemDeDup variants, and any
    * nearest-neighbor-descent-style refinement. Same Σ|cell|²-bounded IVF
    * cell-join chain as [[hardNegatives]] (which is exactly this graph with
    * a cross-label filter inside the join); nothing broadcasts, nothing is
    * all-pairs. With `portableInit = true, iters = 0` the full chain is
    * oracle-replayable. */
  def knnGraph(corpus: DataFrame, k: Int = 2, nLists: Int = 8,
               nProbe: Int = 2, seed: Long = 42L, iters: Int = 8,
               portableInit: Boolean = false): DataFrame =
    cellScoredPairs(corpus, extra = Nil, nLists, nProbe, seed, iters,
        portableInit)
      .transform(topKPerAnchor(k))
      .select(col("anchor_id").as("vec_id"), col("neighbor_id"),
        col("cos_sim"), col("rn"))

  /** CONNECTIVITY-BASED kNN CLUSTERING — the graph composition [[knnGraph]]
    * was built to enable (and the connectivity variant of SemDeDup:
    * [[semDedupIvf]] clusters by quadratic within-cell pairs, this one by
    * transitive kNN-edge reachability): keep each vector's kNN edges at or
    * above the `minCosine` floor, close them into connected components
    * ([[graft.ops.Graph.connectedComponents]] — min-id labels), and return
    * every corpus vector with its cluster id and cluster size. Vectors with
    * no qualifying edge are singleton clusters of themselves, so the output
    * PARTITIONS the corpus — the contract a dedup keep-policy or a
    * leakage-free split needs.
    *
    * Deterministic and oracle-replayable: the edge set is q194's portable
    * chain (threshold on the 6-dp-rounded cosine, the same display
    * quantization the graph emits), and min-id component labels replay as
    * a recursive closure (the q43/q76 pattern).
    *
    * Scale shape: edges are bounded by k·|corpus| BEFORE the closure (the
    * top-k window caps fan-out, unlike a radius graph), components run
    * log-diameter rounds over that bounded edge set, and the size column
    * is one window partitioned by cluster id. */
  def knnCluster(corpus: DataFrame, k: Int = 2, minCosine: Double = 0.2,
                 nLists: Int = 8, nProbe: Int = 2, seed: Long = 42L,
                 iters: Int = 8, portableInit: Boolean = false,
                 mutual: Boolean = false): DataFrame = {
    val directed = knnGraph(corpus, k, nLists, nProbe, seed, iters, portableInit)
      .filter(col("cos_sim") >= lit(minCosine))
      .select(col("vec_id").as("src_id"), col("neighbor_id").as("dst_id"))
    // mutual-kNN: keep an edge only if BOTH endpoints rank each other in
    // their top-k — the stricter linkage that resists hub vectors chaining
    // unrelated regions together (the standard mutual-kNN clustering
    // graph); one self-intersect on the k·|corpus|-bounded edge set
    val edges =
      if (mutual) directed.intersect(
        directed.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
      else directed
    // the component frame IS its cache entry (the connectedComponents
    // contract); the caller's release, or the harnesses' releaseAll,
    // reclaims it
    val comps = graft.ops.Graph.connectedComponents(edges, "src_id", "dst_id")
      .toDF("vec_id", "cluster_id")
    corpus.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
  }

  /** CLUSTER-BALANCED DIVERSITY SELECTION: pick `n` vectors that SPREAD
    * over the embedding space instead of clumping where the corpus is
    * dense — the cluster-then-round-robin subset selection a curation
    * pipeline reaches for when a uniform random sample would just mirror
    * the majority mode. IVF-assign every vector, rank each cell's members
    * by closeness to their centroid (most representative first), then take
    * rows in (rep_rank, cell, vec_id) order: all the rank-1 cell
    * representatives come before any rank-2 row, so with n >= #occupied
    * cells EVERY occupied cell is represented, and per-cell counts never
    * differ by more than one until a cell exhausts — exact round-robin by
    * construction, not in expectation.
    *
    * Deterministic and oracle-replayable: distances use the shared
    * ‖x‖²−2x·c+‖c‖² dot-identity spelling of [[nearestCell]] (the
    * q176-proven portable form), quantized ONCE to integer micro units so
    * the ordering key is a long; `portableInit` + iters=0 makes the whole
    * chain (seed -> assign -> rank -> select) declarative in SQL.
    *
    * Scale shape: one codegen'd assignment pass (centroid literals, no
    * join), one window PARTITIONED BY cell, and the final selection plans
    * as TakeOrderedAndProject under the composite (rep_rank, cell, vec_id)
    * key — no global sort materializes, nothing collects. */
  def diverseSubset(corpus: DataFrame, n: Int, nLists: Int = 8,
                    seed: Long = 42L, iters: Int = 8,
                    portableInit: Boolean = false): DataFrame = {
    val w = Window.partitionBy("cell").orderBy(col("dist_micro"), col("vec_id"))
    nearestCellMicro(corpus, nLists, seed, iters, portableInit)
      .withColumn("rep_rank", row_number().over(w).cast("long"))
      .orderBy(col("rep_rank"), col("cell"), col("vec_id"))
      .limit(n)
      .select(col("vec_id"), col("cell"), col("dist_micro"), col("rep_rank"))
  }

  /** EMBEDDING OUTLIER DETECTION — the quality filter for the vector side
    * of a corpus: a vector far from every quantizer centroid is a corrupt
    * embedding, an encoder failure, or genuinely out-of-distribution
    * content, and all three are what you review before training on the
    * batch. Score = squared L2 distance to the NEAREST IVF centroid (the
    * same dot-identity spelling as [[nearestCell]], micro-quantized to an
    * integer key); returns the top `k` farthest vectors, ties to the lower
    * vec_id. The complement of [[diverseSubset]]'s most-representative
    * ranking — one codegen'd assignment pass, and the selection plans as
    * TakeOrderedAndProject (no global sort). `portableInit` + iters=0
    * makes the chain oracle-replayable (the q204 contract). */
  def embeddingOutliers(corpus: DataFrame, k: Int = 20, nLists: Int = 8,
                        seed: Long = 42L, iters: Int = 8,
                        portableInit: Boolean = false): DataFrame =
    nearestCellMicro(corpus, nLists, seed, iters, portableInit)
      .orderBy(desc("dist_micro"), asc("vec_id"))
      .limit(k)

  /** The shared front of [[diverseSubset]] and [[embeddingOutliers]]: fit
    * the quantizer on a sample, then give every vector its nearest cell
    * and its squared distance there, quantized once to integer micro
    * units: (vec_id, cell, dist_micro). */
  private def nearestCellMicro(corpus: DataFrame, nLists: Int, seed: Long,
                               iters: Int, portableInit: Boolean): DataFrame = {
    val base = vectors(corpus)
    val best = array_min(cellDistArr(col("vec"),
      fitCells(base, nLists, seed, iters, portableInit)))
    base.select(col("vec_id"),
      best.getField("cell").as("cell"),
      floor(best.getField("dist") * lit(1000000.0) + lit(0.5)).cast("long")
        .as("dist_micro"))
  }

  /** The shared candidate-scoring chain of [[knnGraph]]/[[hardNegatives]]:
    * IVF-assign the corpus, explode each anchor's `nProbe` ranked cells,
    * equi-join on the cell id (both sides data-sized, sort-merge), exact
    * cosine on the surviving pairs. `extra` columns (e.g. `label`) ride
    * along on both sides — the neighbor side keeps its name, the anchor
    * side is prefixed `anchor_` — so per-pair filters run INSIDE the join,
    * before the top-k window. */
  private def cellScoredPairs(corpus: DataFrame, extra: Seq[String],
                              nLists: Int, nProbe: Int, seed: Long,
                              iters: Int, portableInit: Boolean): DataFrame = {
    val idx = ivfBuild(corpus, nLists, seed, iters, portableInit = portableInit,
      extraCols = extra)
    val probes = vectors(corpus, "anchor_id", "pvec",
        extra.map(c => col(c).as(s"anchor_$c")))
      .withColumn("cell", probeCells(col("pvec"), idx.centroids, nProbe))
    spread(idx.assigned, col("vec_id")).join(probes, Seq("cell"))
      .filter(col("anchor_id") =!= col("vec_id"))
      .select((col("anchor_id") +: col("vec_id").as("neighbor_id") +:
        cosine(col("pvec"), col("vec")).as("cos_sim") +:
        extra.flatMap(c => Seq(col(c), col(s"anchor_$c")))): _*)
  }

  /** Per-anchor top-k window + 6-dp display rounding (the tie order is the
    * raw cosine, neighbor id ascending — shared by every cell-join
    * consumer so their oracles replay one rule). */
  private def topKPerAnchor(k: Int)(scored: DataFrame): DataFrame =
    scored.transform(topK("anchor_id", k, desc("cos_sim"), asc("neighbor_id")))
      .select(col("anchor_id"), col("neighbor_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rn"))

  /** SEMANTIC decontamination: training vectors whose embedding sits within
    * cosine `threshold` of ANY benchmark vector — the embedding-space
    * complement of the n-gram decontamination contract
    * ([[graft.text.Decontam]]): paraphrased or lightly-reworded benchmark
    * leakage shares no 4-gram but keeps a near-identical embedding. Scale
    * shape is q172's: the benchmark side is MBs at any corpus scale, so it
    * BROADCASTS and the train side is one map-only pass (no shuffle of
    * corpus vectors; the per-train-vector aggregate is map-side combined).
    * Returns one row per CONTAMINATED train vector with its closest bench
    * match (deterministic: max cos, ties to the lower bench id). */
  def semanticContamination(train: DataFrame, bench: DataFrame,
                            threshold: Double): DataFrame =
    closestBench(vectors(train, "train_id", "tv")
      .join(broadcast(vectors(bench, "bench_id", "bv"))), threshold)

  /** The verify-and-keep tail of both decontamination forms: over
    * candidate (train_id, tv, bench_id, bv) pairs, keep those at cosine
    * `threshold` or above, and per train vector its closest bench match
    * (max cos, ties to the lower bench id) with its hit count. */
  private def closestBench(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.filter(cosine(col("tv"), col("bv")) >= threshold)
      .select(col("train_id"), col("bench_id"),
        cosine(col("tv"), col("bv")).as("cos_sim"))
      .groupBy("train_id")
      .agg(max(struct(col("cos_sim"), (-col("bench_id")).as("nb")))
        .as("m"), count(lit(1)).as("n_bench_hits"))
      .select(col("train_id"),
        (-col("m.nb")).cast("long").as("closest_bench_id"),
        round(col("m.cos_sim"), 6).as("max_cos"), col("n_bench_hits"))

  /** Scale form of [[semanticContamination]] for a benchmark registry too
    * big to broadcast (hundreds of benchmarks × paraphrase sets) — and,
    * unlike plain fixed-`nProbe` IVF probing, EXACT: it returns precisely
    * the broadcast form's answer by construction, not up to recall.
    *
    * Both sides are L2-NORMALIZED first (cosine is scale-invariant, and on
    * the unit sphere cos(x, q) ≥ τ  ⇔  ‖x − q‖ ≤ √(2 − 2τ)); the quantizer
    * trains on the normalized TRAIN side (the corpus whose geometry
    * matters), each train vector takes its single argmin cell, and each
    * cell keeps its RADIUS r_c = max ‖x − c‖ over members. A bench vector q
    * must then consider cell c only if ‖q − c‖ ≤ √(2 − 2τ) + r_c — the
    * triangle inequality makes any pair outside that bound provably below
    * threshold, so pruned cells cannot lose a hit. Candidates equi-join on
    * the cell id (both sides data-sized, sort-merge; the radius table is
    * `nLists` rows and broadcasts), and the exact cosine on the ORIGINAL
    * vectors verifies — the same arithmetic as the broadcast form, so
    * Round9OpsSpec pins celled == broadcast as an identity, any data.
    *
    * Prune power is threshold-driven (ε = √(2−2τ): tight decontam
    * thresholds prune hard; loose ones approach the full join) — the right
    * trade for a DECONTAMINATION gate, where a missed hit means benchmark
    * leakage into training data and recall must be 1. The train-side
    * projection is a scoped interim (it feeds the radius aggregate and the
    * candidate join — Caching contract); the per-train-row result is
    * materialized and the caller releases it. */
  def semanticContaminationIvf(train: DataFrame, bench: DataFrame,
                               threshold: Double, nLists: Int = 8,
                               seed: Long = 42L, iters: Int = 8,
                               portableInit: Boolean = false): DataFrame =
    Caching.scoped { scope =>
      val eps = lit(math.sqrt(2.0 - 2.0 * threshold))
      def normed(v: Column): Column = transform(v, x => x / sqrt(dot(v, v)))
      val cents = ivfBuild(
        train.select(col("vec_id"),
          normed(asDouble(col("embedding"))).as("embedding")),
        nLists, seed, iters, portableInit = portableInit).centroids
      val asnT = scope.materialize(vectors(train, "train_id", "tv")
        .withColumn("m", array_min(cellDistArr(normed(col("tv")), cents)))
        .select(col("train_id"), col("tv"), col("m.cell").as("cell"),
          sqrt(greatest(col("m.dist"), lit(0.0))).as("dtr")))
      val radii = asnT.groupBy("cell").agg(max(col("dtr")).as("r"))
      val cand = vectors(bench, "bench_id", "bv")
        .withColumn("c", explode(cellDistArr(normed(col("bv")), cents)))
        .select(col("bench_id"), col("bv"), col("c.cell").as("cell"),
          sqrt(greatest(col("c.dist"), lit(0.0))).as("dq"))
        .join(broadcast(radii), Seq("cell"))
        .filter(col("dq") <= eps + col("r"))
        .select("bench_id", "bv", "cell")
      Caching.materialize(closestBench(
        spread(asnT, col("train_id")).join(cand, Seq("cell")), threshold))
    }

  /** Exact embedding near-duplicate pairs within equality blocks (e.g. a
    * label/shard/partition column): equi-join on the block key bounds the
    * pair count, exact cosine filters at `threshold`. The deterministic
    * oracle-checkable sibling of [[cosineNearDups]] — at 100 TB the block
    * key IS the partitioning, so the self-join is shuffle-local. */
  def cosineNearDupsBlocked(corpus: DataFrame, blockCol: String,
                            threshold: Double): DataFrame = {
    val c = corpus.select(col("vec_id"), col(blockCol).as("block"),
      asDouble(col("embedding")).as("vec"))
    spread(c, col("vec_id")).as("x").join(c.as("y"),
        col("x.block") === col("y.block") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosine(col("x.vec"), col("y.vec")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication — drop all but one representative of each cluster of
    * embedding-space near-duplicates, the technique's LLM-data-curation
    * contract (near-identical meaning, not near-identical text, which the
    * MinHash family already covers). Composition of library pieces:
    * within-block exact-cosine pairs ([[cosineNearDupsBlocked]] — the
    * block column plays the paper's k-means-cluster role in bounding the
    * quadratic pair stage), connected components over the pair graph
    * (min-id canonical labels), keep each component's minimum `vec_id`
    * plus every unpaired vector. Fully deterministic, so a SQL oracle
    * replays it end to end: exact pairs + recursive-CTE closure (the q175
    * gate — same pattern as the q43 text-dedup replay). Returns the
    * surviving rows with all input columns. */
  def semDedup(corpus: DataFrame, blockCol: String, threshold: Double): DataFrame = {
    graft.text.Dedup.keepComponentMin(corpus, graft.ops.Graph
      .connectedComponents(cosineNearDupsBlocked(corpus, blockCol, threshold),
        "vec_a", "vec_b"), "vec_id")
  }

  /** SemDeDup end-to-end for UNLABELED corpora — the full pipeline of the
    * paper (Abbas et al. 2023, arXiv:2303.09540 §3): k-means-cluster the
    * embeddings first, then run the quadratic near-duplicate stage WITHIN
    * each cluster only. `[[ivfBuild]]`'s cell assignment IS that clustering
    * (same coarse quantizer the ANN path uses), so this is a two-line
    * composition: block = IVF cell, then [[semDedup]]. Cluster count bounds
    * the pair stage at Σ|cell|² instead of |corpus|² — the property that
    * makes semantic dedup feasible at 100 TB; choose `nLists` so the
    * average cell (corpus/nLists) keeps the within-cell self-join
    * shuffle-local, exactly as the paper sizes k.
    *
    * Determinism: the trainer is seeded and driver-side, so results are
    * exactly reproducible. With `iters = 0` and `portableInit = true` the
    * "centroids" are the first `nLists` corpus vectors in `(md5(vec_id),
    * vec_id)` order and NO float averaging ever happens — every distance is
    * an exact expression over corpus values, so a SQL oracle replays the
    * whole pipeline (seed selection, argmin assignment, within-cell cosine
    * pairs, component closure) hash-exactly: the q176 gate. Production runs
    * keep the Lloyd refinement (`iters` > 0, engine-specific float lowbits,
    * same asymptotic shape).
    *
    * Returns the surviving rows with all input columns plus the `cell` id
    * (useful downstream: stratified sampling, per-cluster caps). */
  def semDedupIvf(corpus: DataFrame, threshold: Double, nLists: Int = 16,
                  seed: Long = 42L, iters: Int = 8,
                  portableInit: Boolean = false): DataFrame = {
    val idx = ivfBuild(corpus, nLists, seed, iters, portableInit)
    val blocked = corpus.join(
      idx.assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
    semDedup(blocked, "cell", threshold)
  }

  /** One MMR selection: (probe, neighbor, 1-based pick rank, raw score). */
  final case class MmrPick(probe_id: Long, neighbor_id: Long, mmr_rank: Int,
                           mmr_score: Double)

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversity-aware re-rank stage of a retrieval pipeline: greedily
    * pick `k` of each probe's top-`n` candidates maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` (rel = cosine to the probe,
    * sim = cosine between candidates, maxSim ≡ 0.0 for the first pick;
    * ties break to the lower neighbor id).
    *
    * Scale shape: the candidate stage is [[bruteForceTopK]] (swap in an ANN
    * index upstream at scale) bounding each probe's set at `n`, so the
    * inherently sequential greedy loop runs per probe group over ≤ n rows
    * inside `flatMapGroups` — ONE shuffle on probe_id, O(k·n) work per
    * probe, no iteration in the plan (the same bounded-state idiom as the
    * streaming funnel machine). Candidate–candidate cosines are computed in
    * the group loop with EXACTLY the portable accumulation order
    * (sequential dot, `d / (√na·√nb)`), and λ defaults to 0.5 (exact in
    * binary), so a k-round unrolled SQL oracle replays every pick
    * hash-identically — the q174 unroll pattern applied to a greedy
    * selection. */
  def mmrRerank(corpus: DataFrame, probes: DataFrame, n: Int = 10, k: Int = 4,
                lambda: Double = 0.5): DataFrame = {
    val cands = bruteForceTopK(corpus, probes, n)
      .join(vectors(corpus, "neighbor_id", "cvec"), Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), col("cos_sim"), col("cvec"))
    mmrGreedy(cands, k, lambda)
  }

  /** The greedy MMR selection stage over a bounded candidate table
    * (probe_id, neighbor_id, cos_sim, cvec) — shared by the brute-force
    * truth path ([[mmrRerank]]) and the ANN-candidate production paths
    * ([[mmrRerankIvf]], [[mmrRerankAnn]]). One shuffle on probe_id; the
    * per-group loop is O(k·n) over the ≤ n candidates. */
  private def mmrGreedy(cands: DataFrame, k: Int, lambda: Double): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val picks = cands
      .select(col("probe_id"), col("neighbor_id"), col("cos_sim"), col("cvec"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (pid: Long, it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        val remaining = scala.collection.mutable.ArrayBuffer(
          it.map(c => (c._2, c._3, c._4.toArray)).toSeq.sortBy(c => (-c._2, c._1)): _*)
        val selVecs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
        val out = scala.collection.mutable.ArrayBuffer[MmrPick]()
        var r = 1
        while (r <= k && remaining.nonEmpty) {
          val scored = remaining.map { case (id, rel, vec) =>
            val ms = if (selVecs.isEmpty) 0.0
              else selVecs.iterator.map(s => cos(vec, s)).max
            (id, lambda * rel - (1.0 - lambda) * ms, vec)
          }
          val best = scored.minBy { case (id, score, _) => (-score, id) }
          out += MmrPick(pid, best._1, r, best._2)
          selVecs += best._3
          val idx = remaining.indexWhere(_._1 == best._1)
          remaining.remove(idx)
          r += 1
        }
        out.iterator
      }
    picks.toDF()
      .select(col("probe_id"), col("neighbor_id"), col("mmr_rank"),
        round(col("mmr_score"), 6).as("mmr_score"))
  }

  /** MMR with an IVF candidate stage — the scale form of [[mmrRerank]]:
    * candidates come from the `nProbe` nearest cells of a coarse quantizer
    * (corpus·nProbe/nLists vectors scored, never all), exact-cosine top-`n`
    * within them, then the same greedy diversity loop. With
    * `portableInit = true` and `iters = 0` the whole chain — seed
    * selection, argmin assignment, probe-cell ranking (both sides of the
    * ‖x‖²−2x·c+‖c‖² identity), candidate top-n and the k greedy rounds —
    * is exact portable float arithmetic, so a DuckDB oracle replays every
    * pick hash-identically (q176's assignment replay composed with q181's
    * greedy unroll). `nProbe = nLists` degenerates to [[mmrRerank]]
    * exactly (spec-pinned). */
  def mmrRerankIvf(corpus: DataFrame, probes: DataFrame, n: Int = 10,
                   k: Int = 4, lambda: Double = 0.5, nLists: Int = 16,
                   nProbe: Int = 4, seed: Long = 42L, iters: Int = 8,
                   portableInit: Boolean = false): DataFrame = {
    val idx = ivfBuild(corpus, nLists, seed, iters, portableInit = portableInit)
    val cands = ivfScored(idx, probes, nProbe)
      .transform(topK("probe_id", n, desc("cos_sim"), asc("neighbor_id")))
      .select("probe_id", "neighbor_id", "cos_sim", "cvec")
    mmrGreedy(cands, k, lambda)
  }

  /** MMR served from a persisted IVF×PQ index — the retrieval path a
    * production system actually runs: [[ivfPqTopK]] bounds the candidates
    * (cell-pruned scan, ADC over m-byte codes), the stored cell-partitioned
    * vectors supply exact cosines for the survivors only (an n-sized join,
    * not a corpus scan), and the greedy diversity loop re-ranks. Compose
    * with [[loadIndex]]: `val (ivf, pq) = loadIndex(lake, prefix);
    * mmrRerankAnn(ivf, pq, probes, ...)`. */
  def mmrRerankAnn(ivf: IVFIndex, pq: PQIndex, probes: DataFrame,
                   n: Int = 10, k: Int = 4, lambda: Double = 0.5,
                   nProbe: Int = 4): DataFrame = {
    val cands = ivfPqTopK(ivf, pq, probes, n, nProbe)
      .select("probe_id", "neighbor_id")
      .join(ivf.assigned.select(col("vec_id").as("neighbor_id"),
        col("vec").as("cvec")), Seq("neighbor_id"))
      .join(broadcast(probeVecs(probes)), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosine(col("pvec"), col("cvec")).as("cos_sim"), col("cvec"))
    mmrGreedy(cands, k, lambda)
  }

  /** Embedding-cosine near-duplicate pairs via shared LSH bucket (the
    * embedding-space analogue of MinHash near-dup): equi-join on bucket,
    * exact cosine verify at `threshold`. */
  def cosineNearDups(corpus: DataFrame, threshold: Double,
                     numPlanes: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val c = vectors(corpus).withColumn("bucket", lshBucket(col("vec"), planes))
    c.as("x").join(c.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosine(col("x.vec"), col("y.vec")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Per-label dimension-wise centroid: posexplode each vector and average
    * by (label, dimension) — the building block of IVF training / cluster
    * summaries, as one partial+final hash aggregate (state is one
    * (sum, count) per label×dim, independent of corpus size). 6 dp rounding
    * absorbs partition-order float drift, same policy as
    * [[graft.ops.Analytics.lineitemStats]]. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(round(avg(col("col").cast("double")), 6).as("mean_val"),
        count(lit(1)).as("n_vecs"))

  /** Per-vector scalar (uint8-style) quantization: map each dimension to a
    * 0..255 code by min-max scaling within the vector — the storage-side
    * compression step of a vector index (4x smaller than float32, 8x than
    * float64; at 100 TB of embeddings that is the difference between an
    * index that fits hot storage and one that does not). Pure codegen'd map
    * over HOFs, zero shuffles. All arithmetic is float->double then
    * identical IEEE ops, so codes are bit-reproducible across engines;
    * `floor(r*256)` clamped to 255 avoids the half-even vs half-up rounding
    * divergence a `round()`-based scale would hit. Constant vectors (max =
    * min) quantize to all-zero codes. */
  def quantizeCodes(vec: Column): Column = {
    val mn = array_min(vec).cast("double")
    val mx = array_max(vec).cast("double")
    transform(vec, x =>
      when(mx === mn, lit(0))
        .otherwise(least(lit(255L),
          floor((x.cast("double") - mn) / (mx - mn) * lit(256.0))))
        .cast("int"))
  }

  /** Scalar summary of [[quantizeCodes]] per vector (code sum / extremes /
    * dims) — keeps the driver-compared output scalar while the spec asserts
    * the full code arrays. */
  def quantizeStats(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), quantizeCodes(col("embedding")).as("codes"))
      .select(col("vec_id"),
        size(col("codes")).as("n_dims"),
        aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))

  /** Product-quantization index: per-vector code array (one code per
    * subspace) + the [m][k][subDim] codebooks. At 100 TB the codes table is
    * the point — a 64-dim float vector (256 B) compresses to m bytes
    * (8 B at m=8), so a billion-vector index fits where raw vectors don't,
    * and candidate scoring reads only the codes column. */
  final case class PQIndex(codes: DataFrame,
                           codebooks: Array[Array[Array[Double]]],
                           m: Int, subDim: Int)

  /** Squared L2 between a sliced subvector and a centroid literal. */
  private def subSqDist(vec: Column, offset: Int, subDim: Int,
                        centroid: Array[Double]): Column =
    aggregate(zip_with(slice(vec, offset + 1, subDim), lit(centroid),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Train product-quantization codebooks (`codesPerSub` centroids per
    * subspace of `dim/m` contiguous dimensions) and encode the corpus.
    *
    * Training runs Lloyd's ON THE DRIVER over a deterministic hash-sample of
    * at most [[MaxTrainVectors]] vectors — the standard codebook practice
    * (FAISS-style): codebooks bound reconstruction error, they don't need
    * the corpus, and the sample size is CAPPED independent of corpus scale,
    * so this is not a driver-side loop over the data. A distributed Lloyd's
    * (assign join + re-average per iteration) was measured 10x slower at any
    * scale where the sample fits: per-iteration job latency dominates, and
    * at 100 TB you'd still train on a sample. Driver training is also fully
    * deterministic (no partition-order float drift).
    *
    * ENCODING — the part that actually scales with the corpus — is one
    * distributed pass: subvectors explode to (vec_id, j, subvec) rows, a
    * broadcast join on the tiny centroid table scores ‖x‖²−2x·c+‖c‖² with
    * the native codegen'd dot product (HOF zip_with distances are
    * interpreted CodegenFallback, measured ~5x slower), and a deterministic
    * (dist, code) argmin + subspace-ordered reassembly yields the m-byte
    * code arrays.
    *
    * The returned code table is MATERIALIZED (the [[graft.ops.Caching]]
    * contract): it is exactly the structure ADC keeps
    * memory-resident in FAISS — (vec_id, m codes), bytes-per-vector tiny —
    * and every consumer reads it repeatedly ([[pqGate]] alone derives the
    * truth distances, the scored stream, and the rank join from it; without
    * the persist each branch re-runs the full distributed encode — measured
    * 3 encodes per q143 gate). The caller releases `codes` with
    * [[graft.ops.Caching.release]] (the harnesses' releaseAll does). */
  def pqBuild(corpus: DataFrame, m: Int = 8, codesPerSub: Int = 16,
              seed: Long = 42L, iters: Int = 8): PQIndex = {
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val base = vectors(corpus)
    val sample = trainSample(base, seed)
    // per-subspace Lloyd's over the sample's subvector projections
    val codebooks = Array.tabulate(m) { j =>
      val off = j * subDim
      lloydFit(sample.map(v => java.util.Arrays.copyOfRange(v, off, off + subDim)),
        codesPerSub, iters)
    }
    PQIndex(Caching.materialize(pqEncode(base, codebooks, m, subDim)),
      codebooks, m, subDim)
  }

  /** The distributed PQ encode pass: subvectors explode to (vec_id, j,
    * subvec) rows, a broadcast join on the tiny centroid table scores
    * ‖x‖²−2x·c+‖c‖², and a deterministic (dist, code) argmin + ordered
    * reassembly yields the m-byte code arrays. Shared by [[pqBuild]] (which
    * persists the result — the FAISS memory-resident structure) and the
    * frozen-codebook encode of [[encodeWithCodebooks]]/[[appendToIndex]]
    * (one-shot writes, no persist). `base` is (vec_id, vec: array<double>). */
  private def pqEncode(base: DataFrame, codebooks: Array[Array[Array[Double]]],
                       m: Int, subDim: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val cents = codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, kk) => (j, kk, c.toSeq, c.map(x => x * x).sum) }
    }.toSeq.toDF("j", "code", "cent", "cn2")
    val subRows = base.select(col("vec_id"), explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), slice(col("vec"), j * subDim + 1, subDim).as("subvec"))
      }: _*)).as("s"))
      .select(col("vec_id"), col("s.j").as("j"), col("s.subvec").as("subvec"))
      .withColumn("n2", dot(col("subvec"), col("subvec")))
    subRows.join(broadcast(cents), Seq("j"))
      .withColumn("dist",
        col("n2") - lit(2.0) * dot(col("subvec"), col("cent")) + col("cn2"))
      .groupBy("vec_id", "j")
      .agg(min(struct(col("dist"), col("code"))).getField("code").as("code"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
        s => s.getField("code")).as("codes"))
  }

  /** Assign new vectors to their cells under an EXISTING index's frozen
    * coarse quantizer — the incremental-ingest primitive: no retraining,
    * one codegen'd projection, same argmin (and float order) as
    * [[ivfBuild]] gave the original corpus. */
  def assignWithIndex(ivf: IVFIndex, vectors: DataFrame): DataFrame =
    Similarity.vectors(vectors).withColumn("cell", nearestCell(col("vec"), ivf.centroids))

  /** Encode new vectors with an EXISTING index's frozen codebooks — the PQ
    * half of incremental ingest (same encode pass as [[pqBuild]], nothing
    * retrained). */
  def encodeWithCodebooks(pq: PQIndex, vectors: DataFrame): DataFrame =
    pqEncode(Similarity.vectors(vectors), pq.codebooks, pq.m, pq.subDim)

  /** Incrementally append a batch of new vectors to a [[saveIndex]]-
    * persisted index: assign with the frozen centroids, encode with the
    * frozen codebooks, append to the cell-partitioned vector table and the
    * code table — O(batch) work, never a rebuild (the expensive corpus
    * passes and quantizer training happen once, at build). The lake append
    * keeps the PARTITIONED BY cell layout, so serving still prunes to
    * nProbe partitions at the file listing, and each append is one
    * versioned commit per table (roll back by time travel). Served results
    * equal a fresh [[saveIndex]] of the same frozen quantizers over the
    * union corpus (spec-pinned). */
  def appendToIndex(lake: graft.tables.LakeTable, prefix: String,
                    newVectors: DataFrame): Unit = {
    val (ivf, pq) = loadIndex(lake, prefix)
    lake.write(assignWithIndex(ivf, newVectors).select("vec_id", "vec", "cell"),
      s"${prefix}_ivf_vectors", "append"): Unit
    lake.write(encodeWithCodebooks(pq, newVectors),
      s"${prefix}_pq_codes", "append"): Unit
  }

  /** The probe's ADC distance table: dtab[j][c] is the squared distance
    * from its j-th subvector (of `pvec`) to centroid c of codebook j — the
    * per-probe precomputation every ADC consumer shares. */
  private def adcTable(index: PQIndex): Column =
    array((0 until index.m).map { j =>
      array(index.codebooks(j).toIndexedSeq.map(c =>
        subSqDist(col("pvec"), j * index.subDim, index.subDim, c)): _*)
    }: _*)

  /** Probe-side ADC distance tables: (probe_id, dtab). */
  private def adcProbes(index: PQIndex, probes: DataFrame): DataFrame =
    probeVecs(probes).withColumn("dtab", adcTable(index)).select("probe_id", "dtab")

  /** ADC lookup-sum over a row holding `dtab` and `codes`. Unrolled over
    * the statically-known m: a plain element_at chain stays inside
    * whole-stage codegen, where an aggregate(sequence(...)) HOF would run
    * interpreted per (probe, vector) pair — the hot loop here. */
  private def adcSum(m: Int): org.apache.spark.sql.Column =
    (1 to m).map(j =>
      element_at(element_at(col("dtab"), j), element_at(col("codes"), j) + 1))
      .reduce(_ + _)

  /** Every (probe, corpus vector) ADC score — the shared scan under
    * [[pqTopK]] and [[pqGate]]: codes ⨯ broadcast(probe tables), probe
    * itself excluded. */
  private def adcScored(index: PQIndex, probes: DataFrame): DataFrame =
    spread(index.codes, col("vec_id"))
      .crossJoin(broadcast(adcProbes(index, probes)))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        adcSum(index.m).as("approx_dist"))

  /** Approximate top-k neighbors by asymmetric distance computation (ADC):
    * each probe precomputes its m×k distance table ONCE (probe subvector →
    * every codebook centroid, plan literals), then every corpus vector
    * scores with m table lookups — no original vectors are read, only the
    * m-byte codes. The classic memory-bound ANN scale path (IVF bounds the
    * candidates, PQ bounds the bytes; [[ivfPqTopK]] composes them). */
  def pqTopK(index: PQIndex, probes: DataFrame, k: Int): DataFrame =
    adcScored(index, probes).transform(adcTopK(k))

  /** Combined recall@k + rank-quality gate from ONE ADC pass and NO
    * ranking: each true neighbor's full-ranking position is
    * `1 + count(codes scoring strictly better)` under the same
    * deterministic (dist, id) order [[pqTopK]] sorts by, so a conditional
    * aggregate over the scored stream replaces the per-probe
    * corpus-sized sort/window a materialized ranking would need — and
    * recall@k is just `rank <= k`. Returns the 1-row gate
    * (n_probes, n_exact_pairs, recall_ok, rank_ok). */
  def pqGate(index: PQIndex, probes: DataFrame, exact: DataFrame,
             corpus: DataFrame, k: Int, minRecall: Double,
             maxAvgRankFrac: Double): DataFrame = {
    // ADC distance of each TRUE pair directly: semi-sized join of the code
    // table against the (tiny) truth set — no corpus×probe scan needed here
    val truthDist = index.codes
      .join(broadcast(exact.select(col("probe_id"), col("neighbor_id"))),
        col("vec_id") === col("neighbor_id"))
      .join(broadcast(adcProbes(index, probes)), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id").as("true_id"),
        adcSum(index.m).as("true_dist"))
    // one pass over the scored stream: per truth pair, count strictly
    // better (dist, id) entries; the truth row itself never counts
    val better = adcScored(index, probes)
      .join(broadcast(truthDist), Seq("probe_id"))
      .filter(struct(col("approx_dist"), col("neighbor_id"))
        < struct(col("true_dist"), col("true_id")))
      .groupBy(col("probe_id"), col("true_id"))
      .agg(count(lit(1)).as("n_better"))
    val ranks = truthDist.join(better, Seq("probe_id", "true_id"), "left")
      .select(col("probe_id"), col("true_id"),
        (coalesce(col("n_better"), lit(0L)) + lit(1L)).as("rank"))
    val n = corpus.agg(count(lit(1)).as("n_corpus"))
    ranks.agg(
        countDistinct(col("probe_id")).as("n_probes"),
        count(lit(1)).as("n_exact_pairs"),
        avg(col("rank").cast("double")).as("avg_rank"),
        sum(when(col("rank") <= k, 1L).otherwise(0L)).as("n_hit"))
      .crossJoin(broadcast(n)) // 1-row scalar gate
      .select(col("n_probes"), col("n_exact_pairs"),
        (col("n_hit").cast("double") / col("n_exact_pairs").cast("double")
          >= minRecall).as("recall_ok"),
        (col("avg_rank") <= col("n_corpus").cast("double") * maxAvgRankFrac)
          .as("rank_ok"))
  }

  /** ZCA whitening transform: mean vector + whitening matrix
    * W = E·diag(1/√(λ+eps))·Eᵀ fit from the corpus covariance. */
  final case class Whitener(mean: Array[Double], w: Array[Array[Double]])

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (the textbook
    * rotation method — deterministic, no external linear algebra): returns
    * (eigenvalues, eigenvector columns). Dimensions here are embedding
    * widths (≤ a few hundred), so the O(d³) sweeps are driver-trivial. */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val sweeps = 30
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-14) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Fit a ZCA whitener on the capped hash-sample ([[trainSample]] — same
    * bounded driver-side training contract as the IVF/PQ quantizers):
    * population covariance, Jacobi eigendecomposition, W = E·Λ^(-1/2)·Eᵀ.
    * Whitening decorrelates embedding dimensions and equalizes their
    * variance — the standard preconditioner that makes L2/cosine ANN
    * partitions (IVF cells, LSH planes) carve the space evenly instead of
    * along a few dominant directions. An eps of 1e-9 floors the
    * eigenvalues: a (near-)singular direction carries no signal, and 1/√λ
    * there would amplify pure float noise. */
  def whitenFit(corpus: DataFrame, seed: Long = 42L): Whitener = {
    val eps = 1e-9
    val sample = trainSample(vectors(corpus), seed)
    val n = sample.length
    require(n > 1, "whitening needs at least 2 vectors")
    val d = sample(0).length
    val mean = Array.fill(d)(0.0)
    sample.foreach { x => var i = 0; while (i < d) { mean(i) += x(i); i += 1 } }
    var i = 0
    while (i < d) { mean(i) /= n; i += 1 }
    val cov = Array.fill(d, d)(0.0)
    sample.foreach { x =>
      var a = 0
      while (a < d) {
        val xa = x(a) - mean(a)
        var b = a
        while (b < d) { cov(a)(b) += xa * (x(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    i = 0
    while (i < d) {
      var j = i
      while (j < d) { cov(i)(j) /= n; cov(j)(i) = cov(i)(j); j += 1 }
      i += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    val inv = evals.map(l => 1.0 / math.sqrt(math.max(l, 0.0) + eps))
    val w = Array.tabulate(d, d) { (r, c) =>
      var s = 0.0; var k = 0
      while (k < d) { s += evecs(r)(k) * inv(k) * evecs(c)(k); k += 1 }
      s
    }
    Whitener(mean, w)
  }

  /** Apply a fitted whitener: y = W·(x − mean), as a pure codegen'd map —
    * the centered vector materializes ONCE (HOF lambdas defeat
    * subexpression elimination), then each output dimension is one native
    * dot product against a literal W row. Zero shuffles. */
  def whitenTransform(corpus: DataFrame, wh: Whitener): DataFrame =
    vectors(corpus)
      .select(col("vec_id"),
        zip_with(col("vec"), lit(wh.mean), (x, m) => x - m).as("xc"))
      .select(col("vec_id"),
        array(wh.w.indices.map(i => dot(col("xc"), lit(wh.w(i)))): _*)
          .as("w_embedding"))

  /** Self-verifying whitening gate (q37/q125 pattern): whiten the corpus,
    * recompute the whitened covariance DISTRIBUTED (dimension-pair explode →
    * one aggregate over d² cells), and pin that it is the identity within
    * `tol` — diagonal ≈ 1, off-diagonal ≈ 0. Anchors (vector count, width)
    * are oracle-countable from the raw table. */
  def whitenGate(corpus: DataFrame, tol: Double = 0.05): DataFrame = {
    val y = whitenTransform(corpus, whitenFit(corpus))
    val cells = y
      .select(col("w_embedding").as("v"),
        posexplode(col("w_embedding")).as(Seq("i", "yi")))
      .select(col("i"), col("yi"), posexplode(col("v")).as(Seq("j", "yj")))
      .groupBy("i", "j")
      .agg(avg(col("yi") * col("yj")).as("eyy"),
        avg(col("yi")).as("eyi"), avg(col("yj")).as("eyj"))
      .select(col("i"), col("j"),
        (col("eyy") - col("eyi") * col("eyj")).as("cov"))
    val errs = cells.agg(
      max(when(col("i") === col("j"), abs(col("cov") - 1.0)).otherwise(0.0))
        .as("diag_err"),
      max(when(col("i") =!= col("j"), abs(col("cov"))).otherwise(0.0))
        .as("offdiag_err"))
    val anchors = corpus.agg(count(lit(1)).as("n_vectors"),
      max(size(col("embedding"))).as("dim"))
    anchors.crossJoin(broadcast(errs)) // 1-row scalar gate
      .select(col("n_vectors"), col("dim"),
        (col("diag_err") <= tol).as("diag_ok"),
        (col("offdiag_err") <= tol).as("offdiag_ok"))
  }

  /** 1-row (n_probes, n_pairs, n_hit): how many exact truth pairs the
    * approx result recovered. One pass over each input. */
  private def recallCounts(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("probe_id"), col("neighbor_id"))
      .join(approx.select(col("probe_id"), col("neighbor_id"),
        lit(1L).as("h")), Seq("probe_id", "neighbor_id"), "left")
      .agg(countDistinct(col("probe_id")).as("n_probes"),
        count(lit(1)).as("n_pairs"),
        sum(coalesce(col("h"), lit(0L))).as("n_hit"))

  /** END-TO-END whitening⇄ANN composition gate — the proof that the
    * [[whitenFit]]/[[whitenTransform]] preconditioner composes with the
    * quantizer it exists for. Adopting whitening means adopting the
    * whitened (Mahalanobis) metric as the retrieval metric, so each
    * pipeline is judged SELF-CONSISTENTLY: the whitened index against
    * brute-force truth in the whitened space (probes transformed with the
    * SAME fit — index-time and query-time preprocessing must match), the
    * raw index against raw-space truth. Passes iff the whitened pipeline's
    * recall@k ≥ the raw pipeline's recall@k − `tol`: the preconditioner
    * must not degrade how well the quantizer retrieves the metric's own
    * true neighbors (comparing the whitened index against RAW-metric truth
    * would instead measure the metric change itself — whitening on
    * anisotropic data reorders neighbors by design). Near-isotropic
    * corpora tie; the anisotropic case is pinned in SimilaritySpec. Cost
    * is definitional — two index builds plus two probe-bounded exact truth
    * passes. */
  def whitenedRecallGate(corpus: DataFrame, probes: DataFrame, k: Int = 3,
                         nLists: Int = 16, nProbe: Int = 4,
                         tol: Double = 0.1): DataFrame = {
    val wh = whitenFit(corpus)
    val wCorpus = whitenTransform(corpus, wh)
      .withColumnRenamed("w_embedding", "embedding")
    val wProbes = wCorpus
      .join(broadcast(probes.select("vec_id")), Seq("vec_id"), "left_semi")
    val wCounts = recallCounts(
      bruteForceTopK(wCorpus, wProbes, k),
      ivfTopK(ivfBuild(wCorpus, nLists), wProbes, k, nProbe))
    val rCounts = recallCounts(
      bruteForceTopK(corpus, probes, k),
      ivfTopK(ivfBuild(corpus, nLists), probes, k, nProbe))
    rCounts // 1-row scalar gate
      .crossJoin(broadcast(wCounts.select(col("n_hit").as("n_hit_w"))))
      .select(col("n_probes"), col("n_pairs").as("n_exact_pairs"),
        ((col("n_hit_w").cast("double") + lit(tol) *
          col("n_pairs").cast("double")) >=
          col("n_hit").cast("double")).as("whiten_ok"))
  }

  /** Scalar recall gate for an approximate top-k result against the exact
    * brute-force truth (both computed in-query — at verification scale the
    * exact pass is affordable; at 100 TB you gate on a probe sample the same
    * way). Emits oracle-checkable anchors (probe count, exact pair count —
    * both derivable from the raw table by any engine) plus a pinned
    * `recall_ok` boolean: recall = |approx ∩ exact| / |exact| over
    * (probe, neighbor) pairs, compared against `minRecall`. The q37/q125
    * self-verifying-gate pattern applied to ANN. */
  def recallGate(exact: DataFrame, approx: DataFrame,
                 minRecall: Double): DataFrame = {
    val e = exact.select("probe_id", "neighbor_id")
    val a = approx.select("probe_id", "neighbor_id")
    val hit = e.join(a, Seq("probe_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val tot = e.agg(countDistinct(col("probe_id")).as("n_probes"),
      count(lit(1)).as("n_exact_pairs"))
    tot.crossJoin(broadcast(hit)) // 1-row scalar gate
      .select(col("n_probes"), col("n_exact_pairs"),
        (col("n_hit").cast("double") / col("n_exact_pairs").cast("double")
          >= minRecall).as("recall_ok"))
  }

  /** Rank-quality gate for ADC scoring: where do the TRUE top-k neighbors
    * land in the approximate FULL ranking? `fullRanks` is the approximate
    * scorer run with k = corpus size (every candidate ranked). Emits the
    * pinned boolean `rank_ok`: average approx rank of the exact top-k pairs
    * must sit in the best `maxAvgRankFrac` fraction of the corpus — a much
    * tighter signal than top-k overlap when quantization error blurs the
    * head of the ranking but preserves coarse order. */
  def adcRankGate(exact: DataFrame, fullRanks: DataFrame,
                  corpus: DataFrame, maxAvgRankFrac: Double): DataFrame = {
    val e = exact.select("probe_id", "neighbor_id")
    val ranks = e.join(fullRanks.select("probe_id", "neighbor_id", "rn"),
      Seq("probe_id", "neighbor_id"))
    val n = corpus.agg(count(lit(1)).as("n_corpus"))
    ranks.agg(avg(col("rn").cast("double")).as("avg_rank"))
      .crossJoin(broadcast(n)) // 1-row scalar gate
      .select((col("avg_rank") <= col("n_corpus").cast("double") * maxAvgRankFrac)
        .as("rank_ok"))
  }

  /** IVF×PQ composed ANN (the FAISS IVFPQ shape — the production layout for
    * billion-vector search): the IVF coarse quantizer bounds WHICH vectors
    * are scored (each probe touches only its `nProbe` nearest cells,
    * ~corpus·nProbe/nLists candidates), and PQ codes bound the BYTES per
    * candidate (m small ints, not the raw vector). The candidate set comes
    * from an equi-join on the cell id; ADC scoring then reads only the
    * codes column — the raw embedding column is never touched after
    * indexing. */
  def ivfPqTopK(ivf: IVFIndex, pq: PQIndex, probes: DataFrame, k: Int,
                nProbe: Int = 4): DataFrame = {
    val p = probeVecs(probes)
      .withColumn("dtab", adcTable(pq))
      .withColumn("cell", probeCells(col("pvec"), ivf.centroids, nProbe))
      .select("probe_id", "dtab", "cell")
    ivf.assigned.select(col("vec_id"), col("cell"))
      .join(broadcast(p), Seq("cell"))
      .filter(col("probe_id") =!= col("vec_id"))
      .join(pq.codes, Seq("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        adcSum(pq.m).as("approx_dist"))
      .transform(adcTopK(k))
  }
}
