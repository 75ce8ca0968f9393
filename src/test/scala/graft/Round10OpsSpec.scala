package graft

import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** Round-10 operator specs: connectivity-based kNN clustering (partition
  * contract, semDedupIvf agreement). */
class Round10OpsSpec extends SparkSpec {

  // ----------------------------------------------------------- knnCluster

  /** Three well-separated clusters on orthogonal axes with small in-cluster
    * perturbations: within-cluster cosine > 0.99, across ~0. */
  private def separated = df((0 until 12).map { i =>
    val axis = i / 4
    val e = Array.fill(4)(0f)
    e(axis) = 1f
    e((axis + 1) % 4) = 0.05f * (i % 4)
    Vec(100L + i, e, axis)
  })

  test("knnCluster partitions the corpus and recovers separated clusters") {
    val out = Similarity.knnCluster(separated, k = 3, minCosine = 0.9,
      nLists = 3, iters = 8).collect()
    // a partition: every vector appears exactly once
    assert(out.map(_.getAs[Long]("vec_id")).toSet === (0 until 12).map(100L + _).toSet)
    // min-id labels per ground-truth axis group, all sizes 4
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    assert(byCluster.keySet === Set(100L, 104L, 108L))
    byCluster.values.foreach { rows =>
      assert(rows.length === 4)
      assert(rows.forall(_.getAs[Long]("cluster_size") === 4L))
      // members agree with the axis the fixture placed them on
      assert(rows.map(r => (r.getAs[Long]("vec_id") - 100L) / 4L).toSet.size === 1)
    }
  }

  test("knnCluster and semDedupIvf agree on separated clusters: the keepers " +
      "are exactly the cluster labels") {
    val clusters = Similarity.knnCluster(separated, k = 3, minCosine = 0.9,
      nLists = 3, iters = 8)
      .select("cluster_id").distinct().collect().map(_.getLong(0)).toSet
    val keepers = Similarity.semDedupIvf(separated, threshold = 0.9,
        nLists = 3, iters = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // semantic dedup keeps one canonical (min-id) vector per duplicate
    // group; on well-separated clusters those groups ARE the kNN-connected
    // components, so the keep-set equals the cluster-label set
    assert(keepers === clusters)
  }

  test("mutual mode drops one-directional edges a hub vector would chain through") {
    // a ~ c tightly; b points AT a (its only neighbor) but a's top-1 is c,
    // so the (b -> a) edge is one-directional: threshold linkage merges
    // all three, mutual-kNN leaves b a singleton
    val vecs = df(Seq(
      Vec(1L, Array(1f, 0f, 0f, 0f), 0),
      Vec(2L, Array(0.999f, 0.045f, 0f, 0f), 0),
      Vec(3L, Array(0.7f, 0.7f, 0f, 0f), 1)))
    def run(mutual: Boolean) =
      Similarity.knnCluster(vecs, k = 1, minCosine = 0.5, nLists = 1,
        nProbe = 1, iters = 2, mutual = mutual)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getAs[Long]("cluster_id")).toMap
    assert(run(mutual = false) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(run(mutual = true) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("knnCluster labels are partition-count invariant") {
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.knnCluster(d, k = 3, minCosine = 0.9, nLists = 3, iters = 8)
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toSet
    assert(run(separated) === run(separated.repartition(5)))
  }

  test("knnCluster singletons: a floor above every cosine yields all-singleton clusters") {
    val out = Similarity.knnCluster(separated, k = 3, minCosine = 1.1,
      nLists = 3, iters = 8).collect()
    assert(out.forall(r => r.getAs[Long]("cluster_id") === r.getAs[Long]("vec_id")))
    assert(out.forall(_.getAs[Long]("cluster_size") === 1L))
  }
}
