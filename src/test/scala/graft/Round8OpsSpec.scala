package graft

import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** Round-8 operator specs: ANN-candidate MMR vs the brute-force truth, and
  * the incremental ANN index append path. */
class Round8OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def picks(out: org.apache.spark.sql.DataFrame) = out.collect()
    .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Int]("mmr_rank"), r.getAs[Double]("mmr_score"))).toSet

  test("mmrRerankIvf with nProbe = nLists degenerates to brute-force mmrRerank") {
    val emb = graft.tables.Tables.load(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    // probing every cell makes the candidate set the whole corpus, so the
    // top-n (cos DESC, id) selection — and every greedy pick after it — must
    // equal the brute-force path exactly, scores included
    val ann = Similarity.mmrRerankIvf(emb, probes, n = 8, k = 3,
      nLists = 4, nProbe = 4, iters = 2)
    val truth = Similarity.mmrRerank(emb, probes, n = 8, k = 3)
    assert(picks(ann) === picks(truth))
  }

  test("mmrRerankIvf keeps the diversity-aware order through cell pruning") {
    // Round7's planted fixture: pure relevance ranks (1, 2, 3); MMR must
    // pick 1, then the DIVERSE 3, then 2 — and the IVF candidate stage must
    // not lose any of them (nProbe = nLists keeps the candidate set whole)
    val vecs = Seq(
      Vec(100, Array(1f, 0f, 0f, 0f), 0),
      Vec(1, Array(0.99f, 0.14f, 0f, 0f), 0),
      Vec(2, Array(0.99f, 0.141f, 0f, 0f), 0),
      Vec(3, Array(0.7f, 0f, 0.7f, 0f), 0),
      Vec(4, Array(0f, 0.1f, 0f, 1f), 0))
    val d = df(vecs)
    val out = Similarity.mmrRerankIvf(d, d.filter(col("vec_id") === 100),
        n = 4, k = 3, nLists = 2, nProbe = 2, iters = 4)
      .orderBy("mmr_rank").collect().map(_.getAs[Long]("neighbor_id"))
    assert(out === Array(1L, 3L, 2L))
  }

  test("mmrRerankAnn served from a persisted index equals brute-force MMR " +
    "when the candidate set is complete") {
    val vecs = Seq(
      Vec(100, Array(1f, 0f, 0f, 0f), 0),
      Vec(1, Array(0.99f, 0.14f, 0f, 0f), 0),
      Vec(2, Array(0.99f, 0.141f, 0f, 0f), 0),
      Vec(3, Array(0.7f, 0f, 0.7f, 0f), 0),
      Vec(4, Array(0f, 0.1f, 0f, 1f), 0))
    val d = df(vecs)
    val probes = d.filter(col("vec_id") === 100)
    val ivf = Similarity.ivfBuild(d, nLists = 2, iters = 4)
    val pq = Similarity.pqBuild(d, m = 2, codesPerSub = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-mmr-ann").toString
    val lake = new graft.tables.LakeTable(spark, dir)
    Similarity.saveIndex(lake, "mmr", ivf, pq)
    val (ivf2, pq2) = Similarity.loadIndex(lake, "mmr")
    // n covers the whole corpus and every cell is probed, so ADC ordering
    // cannot drop a candidate — the served MMR must match the truth exactly
    val served = Similarity.mmrRerankAnn(ivf2, pq2, probes,
      n = 4, k = 3, nProbe = 2)
    val truth = Similarity.mmrRerank(d, probes, n = 4, k = 3)
    assert(picks(served) === picks(truth))
    graft.ops.Caching.releaseAll(spark)
  }

  test("appendToIndex: incremental append serves identically to a fresh " +
    "frozen-quantizer index over the union corpus") {
    val emb = graft.tables.Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") % 5 =!= 0)
    val b = emb.filter(col("vec_id") % 5 === 0)
    val probes = emb.filter(col("vec_id") < 5)
    val ivfA = Similarity.ivfBuild(a, nLists = 8)
    val pqA = Similarity.pqBuild(a, codesPerSub = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-append").toString
    val lake = new graft.tables.LakeTable(spark, dir)
    // incremental path: build on A, commit, append B as one commit per table
    Similarity.saveIndex(lake, "inc", ivfA, pqA)
    Similarity.appendToIndex(lake, "inc", b)
    // truth path: the SAME frozen quantizers assigned/encoded over A ∪ B
    val full = Similarity.IVFIndex(
      Similarity.assignWithIndex(ivfA, emb), ivfA.centroids)
    val pqFull = Similarity.PQIndex(Similarity.encodeWithCodebooks(pqA, emb),
      pqA.codebooks, pqA.m, pqA.subDim)
    Similarity.saveIndex(lake, "full", full, pqFull)
    val (ivfInc, pqInc) = Similarity.loadIndex(lake, "inc")
    val (ivfFull, pqFull2) = Similarity.loadIndex(lake, "full")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(rows(Similarity.ivfTopK(ivfInc, probes, 3, nProbe = 4)) ===
      rows(Similarity.ivfTopK(ivfFull, probes, 3, nProbe = 4)))
    assert(rows(Similarity.ivfPqTopK(ivfInc, pqInc, probes, 3, nProbe = 4)) ===
      rows(Similarity.ivfPqTopK(ivfFull, pqFull2, probes, 3, nProbe = 4)))
    // appended rows land in the appended vector batch too, not just A's
    val nInc = lake.read("inc_ivf_vectors").count()
    assert(nInc === emb.count())
    // the append preserved the PARTITIONED BY cell layout: a one-cell read
    // still prunes at the partition level after the append commit
    val one = lake.read("inc_ivf_vectors").filter(col("cell") === 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"),
      s"cell filter must prune partitions after append:\n${plan.take(500)}")
    graft.ops.Caching.releaseAll(spark)
  }

  private def pairRows(out: org.apache.spark.sql.DataFrame) = out.collect()
    .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Long]("n_shared"), r.getAs[Double]("containment_a"),
      r.getAs[Double]("containment_b"))).toSet

  test("containmentNearDupsBanded equals the exact counting form") {
    import graft.text.Dedup
    // the Round7 planted fixtures (embedded quote + boilerplate prune) AND
    // the real documents table — same pairs, counts, and ratios
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val page = quote + " " + (1 to 40).map(i => s"word$i").mkString(" ")
    val planted = df(Seq(
      R7Doc(1, quote), R7Doc(2, page),
      R7Doc(3, "completely unrelated text about nothing in particular here")))
    assert(pairRows(Dedup.containmentNearDupsBanded(planted, threshold = 0.9))
      === pairRows(Dedup.containmentNearDups(planted, threshold = 0.9)))
    val docs = graft.tables.Tables.load(spark, sf, "documents")
    val exact = pairRows(Dedup.containmentNearDups(docs,
      threshold = 0.5, maxDf = 1000))
    assert(exact.nonEmpty, "fixture corpus must produce containment pairs")
    assert(pairRows(Dedup.containmentNearDupsBanded(docs,
      threshold = 0.5, maxDf = 1000)) === exact)
    // a tiny sketch still catches the full-containment pair (every gram of
    // a <= sketchK-gram doc is sampled: structurally zero misses)
    assert(pairRows(Dedup.containmentNearDupsBanded(planted, threshold = 0.9,
      sketchK = 2)).map(p => (p._1, p._2)) === Set((1L, 2L)))
    graft.ops.Caching.releaseAll(spark)
  }

  test("containmentNearDupsBanded == exact under planted near-threshold stress") {
    import graft.text.Dedup
    // ~120 docs with planted containment structure across the 0.5 boundary:
    // for each base page, a prefix slice at a varying fraction (0.3..0.9 of
    // the page's tokens) — containment of the slice in the page is ~1.0 in
    // one direction and the slice/page size ratio in the other, so pairs
    // land on both sides of the threshold; plus shared-template docs that
    // stress the salted sketch's hub-gram path
    val boiler = "shared template header used on every page of this corpus"
    val docs = df((0 until 40).flatMap { i =>
      val page = (1 to 40).map(j => s"p${i}w$j").mkString(" ")
      val frac = 10 + (i % 7) * 4 // 10..34 of 40 tokens
      val slice = (1 to frac).map(j => s"p${i}w$j").mkString(" ")
      // overlapping sibling slice: shares tokens (i%11+5)..frac with the
      // first slice, so MAX containment between the two siblings sweeps
      // through the threshold band rather than sitting at 1.0
      val slice2 = ((i % 11) + 5 to math.min(40, frac + 8))
        .map(j => s"p${i}w$j").mkString(" ")
      Seq(R7Doc(i * 4L, boiler + " " + page),
        R7Doc(i * 4L + 1, slice),
        R7Doc(i * 4L + 2, slice2),
        R7Doc(i * 4L + 3, (1 to 30).map(j => s"u${i}x$j").mkString(" ")))
    })
    for (t <- Seq(0.4, 0.5, 0.7); maxDf <- Seq(1000L, 10L)) {
      val exact = pairRows(Dedup.containmentNearDups(docs,
        threshold = t, maxDf = maxDf))
      assert(exact.nonEmpty, s"stress fixture must pair at t=$t maxDf=$maxDf")
      assert(pairRows(Dedup.containmentNearDupsBanded(docs,
        threshold = t, maxDf = maxDf)) === exact, s"t=$t maxDf=$maxDf")
    }
    graft.ops.Caching.releaseAll(spark)
  }

  test("dropContained removes the embedded quote and keeps the page") {
    import graft.text.Dedup
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val page = quote + " " + (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = df(Seq(
      R7Doc(1, quote), R7Doc(2, page),
      R7Doc(3, "completely unrelated text about nothing in particular here")))
    val kept = Dedup.dropContained(docs, threshold = 0.9)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(2L, 3L))
    graft.ops.Caching.releaseAll(spark)
  }

  test("refinery containment stage drops a quote that Jaccard dedup keeps") {
    import graft.text.Refinery
    val page = (1 to 40).map(i => s"tok$i").mkString(" ")
    val quote = (1 to 25).map(i => s"tok$i").mkString(" ")  // contained, J=0.625
    val other = (1 to 40).map(i => s"era$i").mkString(" ")
    val docs = df(Seq(
      DocRow(1, page, "en", "web", page.length.toLong),
      DocRow(2, quote, "en", "web", quote.length.toLong),
      DocRow(3, other, "en", "web", other.length.toLong)))
    def survivors(cfg: Refinery.Config) =
      Refinery.refine(docs, cfg).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    // without containment the quote survives near-dup (Jaccard 0.625 < 0.8)
    assert(survivors(Refinery.Config())
      === Set(1L, 2L, 3L))
    // the containment stage catches it; page and unrelated doc survive
    assert(survivors(Refinery.Config(
      containment = true, containmentThreshold = 0.9)) === Set(1L, 3L))
    graft.ops.Caching.releaseAll(spark)
  }

  test("passesGopherGate equals gopherQualityProfile's pass_gopher conjunction") {
    import graft.text.TextStats
    // stop-word floor 1: the synthetic vocabulary barely intersects the
    // paper's stop list (at the published 2 the whole corpus gates out —
    // the equality below must be checked on a DISCRIMINATING configuration)
    val docs = graft.tables.Tables.load(spark, sf, "documents")
    val viaGate = docs.filter(TextStats.passesGopherGate(50, 100000, 1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaProfile = TextStats.gopherQualityProfile(docs, 50, 100000, 1)
      .filter(col("pass_gopher")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(viaGate === viaProfile)
    // the gate must actually discriminate on this corpus
    val total = docs.count()
    assert(viaGate.nonEmpty && viaGate.size < total)
    // at the published floor of 2 the gate and profile still agree (both
    // empty here — the default contract, pinned against drift too)
    val strict = docs.filter(TextStats.passesGopherGate(50, 100000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val strictProfile = TextStats.gopherQualityProfile(docs)
      .filter(col("pass_gopher")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(strict === strictProfile)
  }

  test("refinery gopher gate == refine over the profile-passing slice") {
    import graft.text.{Refinery, TextStats}
    val docs = graft.tables.Tables.load(spark, sf, "documents").limit(200)
    val viaCfg = Refinery.refine(docs,
        Refinery.Config(gate = "gopher",
          gopherMinStopWords = 1))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val preFiltered = docs.filter(TextStats.passesGopherGate(50, 100000, 1))
    val viaSlice = Refinery.refine(preFiltered,
        // basic gate with thresholds the gopher survivors trivially clear
        Refinery.Config(minTokens = 1,
          minDistinctRatio = 0.0))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(viaCfg === viaSlice)
    graft.ops.Caching.releaseAll(spark)
  }

  test("hardNegatives surfaces the nearest cross-label vector, never same-label") {
    import graft.sim.Similarity
    // two tight clusters with mixed labels: each anchor's hardest negative
    // is the OTHER-label vector inside its own cluster, not the same-label
    // near-duplicate and not the far cluster
    val vecs = Seq(
      Vec(1, Array(1f, 0f, 0f, 0f), 0),
      Vec(2, Array(0.99f, 0.14f, 0f, 0f), 0),   // same label as 1 — excluded
      Vec(3, Array(0.98f, 0.2f, 0f, 0f), 1),    // 1's hard negative
      Vec(4, Array(0f, 0f, 1f, 0f), 0),
      Vec(5, Array(0f, 0.1f, 0.99f, 0f), 1))    // 4's hard negative
    val d = df(vecs)
    val out = Similarity.hardNegatives(d, k = 1, nLists = 2, nProbe = 2,
        iters = 4)
      .collect().map(r => r.getAs[Long]("anchor_id") ->
        r.getAs[Long]("negative_id")).toMap
    assert(out(1L) === 3L && out(2L) === 3L && out(4L) === 5L)
    // a negative never shares its anchor's label
    val lbl = vecs.map(v => v.vec_id -> v.label).toMap
    assert(out.forall { case (a, n) => lbl(a) != lbl(n) })
  }

  test("semanticContamination flags near-bench train vectors with the closest match") {
    import graft.sim.Similarity
    val vecs = Seq(
      Vec(100, Array(1f, 0f, 0f, 0f), 0),      // bench
      Vec(101, Array(0.8f, 0.6f, 0f, 0f), 0),  // bench, cos 0.8 to 100
      Vec(1, Array(0.95f, 0.31f, 0f, 0f), 0),  // train: near BOTH (closest 100)
      Vec(2, Array(0f, 0f, 1f, 0f), 0),        // train: orthogonal — clean
      Vec(3, Array(0.55f, 0.84f, 0f, 0f), 0))  // train: near 101 only
    val d = df(vecs)
    val out = Similarity.semanticContamination(
        d.filter(col("vec_id") < 100), d.filter(col("vec_id") >= 100),
        threshold = 0.8)
      .collect().map(r => r.getAs[Long]("train_id") ->
        (r.getAs[Long]("closest_bench_id"), r.getAs[Long]("n_bench_hits")))
      .toMap
    assert(out.keySet === Set(1L, 3L), s"clean vector must not flag: $out")
    assert(out(1L)._2 === 2L && out(3L) === ((101L, 1L)))
    // closest match is the argmax, ties to the lower bench id
    assert(out(1L)._1 === 100L)
  }

  test("dsirWeights ranks target-looking pool docs above off-target ones") {
    import graft.text.TextFeatures
    // target slice speaks vocabulary A; pool doc 10 speaks A, pool doc 11
    // speaks unrelated vocabulary B, pool doc 12 mixes — DSIR must order
    // them 10 > 12 > 11 (per-gram normalization not required: equal sizes)
    val a = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 20).map(i => s"omega$i").mkString(" ")
    val mixed = (1 to 10).map(i => s"alpha$i").mkString(" ") + " " +
      (1 to 10).map(i => s"omega$i").mkString(" ")
    val docs = df(Seq(
      DocRow(1, a, "en", "web", a.length.toLong),
      DocRow(2, a, "en", "web", a.length.toLong),
      DocRow(10, a, "xx", "web", a.length.toLong),
      DocRow(11, b, "xx", "web", b.length.toLong),
      DocRow(12, mixed, "xx", "web", mixed.length.toLong)))
    val w = TextFeatures.dsirWeights(docs, col("lang") === "en")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("w_micronats"))
      .toMap
    assert(w.keySet === Set(10L, 11L, 12L), "only pool docs are scored")
    assert(w(10L) > w(12L) && w(12L) > w(11L),
      s"expected target-likeness order, got $w")
    graft.ops.Caching.releaseAll(spark)
  }

  test("incremental novelty view equals the full recompute after two appends") {
    import graft.tables.{LakeTable, Materialize}
    import graft.text.Dedup
    val docs = graft.tables.Tables.load(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty").toString
    val lake = new LakeTable(spark, dir)
    lake.write(docs.filter(col("doc_id") % 3 =!= 0), "docs", "overwrite"): Unit
    val v1 = Materialize.refreshNovelty(lake, "docs", "docs_novelty")
    lake.write(docs.filter(col("doc_id") % 3 === 0), "docs", "append"): Unit
    val v2 = Materialize.refreshNovelty(lake, "docs", "docs_novelty")
    assert(v2 > v1)
    // idempotent no-op at the same base version
    assert(Materialize.refreshNovelty(lake, "docs", "docs_novelty") === v2)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novelty"))).toSet
    assert(rows(Materialize.noveltyFromView(lake, "docs_novelty", docs))
      === rows(Dedup.gramNovelty(docs)))
    graft.ops.Caching.releaseAll(spark)
  }
}
