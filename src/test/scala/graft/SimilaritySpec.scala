package graft

import org.apache.spark.sql.functions._

import graft.sim.Similarity

case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

class SimilaritySpec extends SparkSpec {

  private def unit(dim: Int, axis: Int): Array[Float] =
    Array.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)

  test("cosine matches hand computation") {
    val d = df(Seq(Vec(0, Array(1f, 0f), 0), Vec(1, Array(1f, 1f), 0)))
    val c = d.as("a").join(d.as("b"),
        col("a.vec_id") === 0 && col("b.vec_id") === 1)
      .select(Similarity.cosine(
        col("a.embedding").cast("array<double>"),
        col("b.embedding").cast("array<double>")).as("c"))
      .collect()(0).getDouble(0)
    assert(math.abs(c - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("brute-force top-k returns nearest neighbors in order") {
    // cluster A near axis 0, cluster B near axis 1
    val vecs = Seq(
      Vec(0, Array(1f, 0f, 0f, 0f), 0),
      Vec(1, Array(0.9f, 0.1f, 0f, 0f), 0),
      Vec(2, Array(0.8f, 0.2f, 0f, 0f), 0),
      Vec(3, Array(0f, 1f, 0f, 0f), 1),
      Vec(4, Array(0.1f, 0.9f, 0f, 0f), 1))
    val d = df(vecs)
    val top = Similarity.bruteForceTopK(d, d.filter(col("vec_id") === 0), 2)
      .orderBy("rn").collect().map(_.getAs[Long]("neighbor_id"))
    assert(top === Array(1L, 2L))
  }

  test("multi-table LSH finds planted clusters with high recall") {
    val dim = 16
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f)
    val bases = (0 until 4).map(a => unit(dim, a))
    val vecs = (0 until 80).map { i =>
      Vec(i.toLong, jitter(bases(i % 4)), i % 4)
    }
    val d = df(vecs)
    val probes = d.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(d, probes, 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(d, probes, 5, tables = 8, planesPerTable = 4,
        dim = dim).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("IVF index recovers planted clusters with high recall") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f)
    val bases = (0 until 4).map(a => unit(dim, a))
    val vecs = (0 until 80).map(i => Vec(i.toLong, jitter(bases(i % 4)), i % 4))
    val d = df(vecs)
    val probes = d.filter(col("vec_id") < 4)
    val index = Similarity.ivfBuild(d, nLists = 8, seed = 7)
    val exact = Similarity.bruteForceTopK(d, probes, 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.ivfTopK(index, probes, 5, nProbe = 2).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("cosineNearDups flags only genuinely close pairs") {
    val vecs = Seq(
      Vec(0, Array(1f, 0f, 0f, 0f), 0),
      Vec(1, Array(0.99f, 0.01f, 0f, 0f), 0), // near-dup of 0
      Vec(2, Array(0f, 0f, 1f, 0f), 1))
    val pairs = Similarity.cosineNearDups(df(vecs), threshold = 0.95,
        numPlanes = 4, dim = 4).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("PQ/ADC retrieves planted clusters; codes are m small ints") {
    val dim = 16
    val rnd = new scala.util.Random(13)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.05f)
    val bases = (0 until 4).map(a => unit(dim, a))
    val vecs = (0 until 80).map(i => Vec(i.toLong, jitter(bases(i % 4)), i % 4))
    val d = df(vecs)
    val index = Similarity.pqBuild(d, m = 4, codesPerSub = 8, seed = 5)
    // compression really happened: one code per subspace, all in [0, k)
    val codeRows = index.codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(codeRows.forall(_._2.length === 4))
    assert(codeRows.forall(_._2.forall(c => c >= 0 && c < 8)))
    val probes = d.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(d, probes, 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.pqTopK(index, probes, 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    // PQ is lossy WITHIN a cluster (codes collapse near-ties), so top-k
    // recall sits below the candidate-generation methods (LSH/IVF rerank
    // with exact distances; ADC never sees the original vectors). The load-
    // bearing property is the cluster purity assert below.
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
    // every returned neighbor of probe i comes from probe i's own cluster
    val byCluster = vecs.map(v => v.vec_id -> v.label).toMap
    approx.foreach { case (p, n) =>
      assert(byCluster(p) === byCluster(n), s"probe $p got cross-cluster $n")
    }
  }

  test("IVFxPQ composed search stays within the probe's planted cluster") {
    val dim = 16
    val rnd = new scala.util.Random(29)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.05f)
    val bases = (0 until 4).map(a => unit(dim, a))
    val vecs = (0 until 80).map(i => Vec(i.toLong, jitter(bases(i % 4)), i % 4))
    val d = df(vecs)
    val ivf = Similarity.ivfBuild(d, nLists = 4, seed = 7)
    val pq = Similarity.pqBuild(d, m = 4, codesPerSub = 8, seed = 5)
    val probes = d.filter(col("vec_id") < 4)
    val got = Similarity.ivfPqTopK(ivf, pq, probes, 5, nProbe = 2).collect()
    // every probe answered with k neighbors, all from its own cluster
    val byProbe = got.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.keySet === Set(0L, 1L, 2L, 3L))
    val byCluster = vecs.map(v => v.vec_id -> v.label).toMap
    byProbe.foreach { case (p, rows) =>
      assert(rows.length === 5)
      rows.foreach { r =>
        val n = r.getAs[Long]("neighbor_id")
        assert(byCluster(p) === byCluster(n), s"probe $p got cross-cluster $n")
      }
    }
  }

  test("semDedup keeps one representative per semantic cluster") {
    val d = df(Seq(
      Vec(1, Array(1f, 0f, 0f, 0f), 0),
      Vec(2, Array(0.99f, 0.01f, 0f, 0f), 0),  // near-dup of 1
      Vec(3, Array(0.98f, 0.02f, 0f, 0f), 0),  // near-dup of 1 and 2
      Vec(4, Array(0f, 1f, 0f, 0f), 0),        // same block, far away
      Vec(5, Array(1f, 0f, 0f, 0f), 1),        // identical to 1, OTHER block
      Vec(6, Array(0f, 0f, 1f, 0f), 1)))
    val kept = Similarity.semDedup(d, "label", threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // cluster {1,2,3} keeps 1; 4/6 unpaired; 5 survives (blocks bound pairs)
    assert(kept === Set(1L, 4L, 5L, 6L))
    graft.ops.Caching.releaseAll(spark) // semDedup's CC result is cache-backed
  }

  test("semDedupIvf cell-blocking agrees with label-blocking on separated clusters") {
    import spark.implicits._
    val dim = 8
    val nClusters = 4
    // anchor selection must match the portable 0-iteration trainer: the
    // first nClusters ids in (md5(id), id) order seed DISTINCT clusters, so
    // nearest-seed assignment reproduces the label partition exactly
    val ids = (0L until 12L)
    val hashOrder = ids.toDF("id")
      .select(col("id"), md5(col("id").cast("string")).as("h"))
      .collect().sortBy(r => (r.getString(1), r.getLong(0))).map(_.getLong(0))
    val cluster = hashOrder.zipWithIndex
      .map { case (id, rank) => id -> rank % nClusters }.toMap
    val vecs = ids.map { id =>
      val k = cluster(id)
      val v = Array.tabulate(dim)(i =>
        if (i == k) 10f else if (i == ((k + 4) % dim)) 0.01f * (id % 3 + 1) else 0f)
      Vec(id, v, k)
    }
    val d = df(vecs)
    def keptOf(r: org.apache.spark.sql.DataFrame): Set[Long] =
      r.select("vec_id").collect().map(_.getLong(0)).toSet
    val byLabel = keptOf(Similarity.semDedup(d, "label", threshold = 0.9))
    // portable 0-iteration path (the oracle-replayable q176 configuration)
    val byCell0 = keptOf(Similarity.semDedupIvf(d, threshold = 0.9,
      nLists = nClusters, iters = 0, portableInit = true))
    // production path: Lloyd refinement converges to the same partition
    // (init already holds one seed per tight cluster)
    val byCell8 = keptOf(Similarity.semDedupIvf(d, threshold = 0.9,
      nLists = nClusters, iters = 8, portableInit = true))
    assert(byLabel === byCell0, "0-iteration cell blocking diverged from labels")
    assert(byLabel === byCell8, "refined cell blocking diverged from labels")
    // the assignment itself must reproduce the label partition over ALL
    // rows (cells are a renumbering of labels, nothing merged or split)
    val asn = Similarity.ivfBuild(d, nLists = nClusters, iters = 0,
        portableInit = true)
      .assigned.select(col("vec_id"), col("cell"))
      .join(d.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select("cell", "label").distinct().collect()
    assert(asn.length === nClusters &&
      asn.map(_.getInt(0)).distinct.length === nClusters,
      s"cells must biject onto labels, got: ${asn.mkString(",")}")
    graft.ops.Caching.releaseAll(spark) // semDedup's CC result is cache-backed
  }

  test("whitening composes with PQ: whitened-space recall holds") {
    // same anisotropic shape as the IVF test: PQ subspaces containing the
    // dominant raw direction would spend their codebook on it; whitening
    // levels the variance before the split. Each pipeline is judged
    // self-consistently (index and truth in the same metric space).
    val rnd = new scala.util.Random(13)
    val dim = 8
    val vecs = (1L to 400L).map { i =>
      val base = Array.tabulate(dim)(_ => rnd.nextGaussian().toFloat)
      base(0) = (rnd.nextGaussian() * 40.0).toFloat
      Vec(i, base, (i % 4L).toInt)
    }
    val d = df(vecs)
    val probeIds = d.filter(col("vec_id") <= 10).select("vec_id")
    def recallAt3(corpus: org.apache.spark.sql.DataFrame): Long = {
      val probes = corpus.join(broadcast(probeIds), Seq("vec_id"), "left_semi")
      val exact = Similarity.bruteForceTopK(corpus, probes, 3)
      val approx = Similarity.pqTopK(
        Similarity.pqBuild(corpus, m = 4, codesPerSub = 16), probes, 3)
      exact.select("probe_id", "neighbor_id")
        .join(approx.select("probe_id", "neighbor_id"),
          Seq("probe_id", "neighbor_id"), "left_semi").count()
    }
    val wh = Similarity.whitenFit(d)
    val whitened = Similarity.whitenTransform(d, wh)
      .withColumnRenamed("w_embedding", "embedding")
    val rawHits = recallAt3(d)
    val whitenedHits = recallAt3(whitened)
    assert(whitenedHits >= rawHits - 3, // tol = 0.1 of the 30 exact pairs
      s"whitened PQ recall $whitenedHits fell below raw $rawHits - tol")
  }

  test("whitenedRecallGate: whitened IVF keeps recall on anisotropic data") {
    // one dominant direction 40x the rest: raw IVF cells split along it and
    // starve the informative dimensions; whitening rescales them level
    val rnd = new scala.util.Random(7)
    val dim = 8
    val vecs = (1L to 400L).map { i =>
      val base = Array.tabulate(dim)(_ => rnd.nextGaussian().toFloat)
      base(0) = (rnd.nextGaussian() * 40.0).toFloat
      Vec(i, base, (i % 4L).toInt)
    }
    val d = df(vecs)
    val probes = d.filter(col("vec_id") <= 10)
    val out = Similarity.whitenedRecallGate(d, probes,
      k = 3, nLists = 8, nProbe = 2, tol = 0.1).collect()(0)
    assert(out.getAs[Long]("n_probes") === 10L)
    assert(out.getAs[Long]("n_exact_pairs") === 30L)
    assert(out.getAs[Boolean]("whiten_ok"),
      "whitened recall fell more than tol below unwhitened recall")
  }

  test("ranked ANN paths return the same rows at 1 and 7 shuffle partitions " +
    "and on a repartitioned corpus") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(17)
    val emb = df((0 until 200).map { i =>
      Vec(i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat), i % 4)
    })
    def probes(c: DataFrame) = c.filter(col("vec_id") < 8)
    val paths: Seq[(String, DataFrame => DataFrame)] = Seq(
      "bruteForceTopK" -> (c => Similarity.bruteForceTopK(c, probes(c), 3)),
      "lshTopK" -> (c => Similarity.lshTopK(c, probes(c), 3, dim = 16)),
      "ivfTopK" -> (c => Similarity.ivfTopK(
        Similarity.ivfBuild(c, nLists = 4, iters = 2), probes(c), 3, nProbe = 2)),
      "pqTopK" -> (c => Similarity.pqTopK(
        Similarity.pqBuild(c, m = 4, codesPerSub = 8, iters = 2), probes(c), 3)),
      "ivfPqTopK" -> (c => Similarity.ivfPqTopK(
        Similarity.ivfBuild(c, nLists = 4, iters = 2),
        Similarity.pqBuild(c, m = 4, codesPerSub = 8, iters = 2), probes(c), 3,
        nProbe = 2)),
      "knnGraph" -> (c => Similarity.knnGraph(c, k = 2, nLists = 4, nProbe = 2,
        iters = 2)),
      "hardNegatives" -> (c => Similarity.hardNegatives(c, k = 2, nLists = 4,
        nProbe = 2, iters = 2)),
      "mmrRerankIvf" -> (c => Similarity.mmrRerankIvf(c, probes(c), n = 6, k = 3,
        nLists = 4, nProbe = 2, iters = 2)))
    val key = "spark.sql.shuffle.partitions"
    // the PQ code table is persisted: drop it after each run so no run
    // reads another run's cached encode
    def rows(width: Option[Int], out: => DataFrame): Set[Seq[Any]] = {
      val prev = spark.conf.get(key)
      width.foreach(w => spark.conf.set(key, w.toString))
      try out.collect().map(_.toSeq).toSet
      finally { spark.conf.set(key, prev); graft.ops.Caching.releaseAll(spark) }
    }
    paths.foreach { case (name, run) =>
      val base = rows(Some(1), run(emb))
      assert(base.nonEmpty, s"$name returned no rows")
      assert(rows(Some(7), run(emb)) === base,
        s"$name differs at 7 shuffle partitions")
      assert(rows(None, run(emb.repartition(5))) === base,
        s"$name differs on a corpus repartitioned to 5")
    }
  }
}
