package graft

import org.apache.spark.sql.functions._

import graft.sim.Similarity
import graft.text.TextFeatures

class TextFeaturesSpec extends SparkSpec {

  private def doc(id: Long, text: String) = Doc(id, text, "en", "s", text.length.toLong)

  test("tf-idf embeddings rank a near-duplicate above unrelated docs") {
    val base = "spark is a unified analytics engine for large scale data processing"
    val corpus = df(Seq(
      doc(0, base),
      doc(1, base + " with extra words appended here"),
      doc(2, "cooking recipes for pasta and fresh tomato sauce preparations"),
      doc(3, "gardening in small greenhouses with automatic drip watering")))
    val emb = TextFeatures.tfidfEmbeddingsPortable(corpus)
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 1)
      .collect()(0)
    assert(top.getAs[Long]("neighbor_id") === 1L)
    assert(top.getAs[Double]("cos_sim") > 0.5)
  }

  test("stratified sample respects per-stratum fractions, deterministically") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.01")
    val frac = Map("en" -> 0.5, "fr" -> 0.1, "de" -> 0.0, "es" -> 1.0, "zh" -> 0.3)
    val s1 = TextFeatures.stratifiedSample(docs, "lang", frac, seed = 7)
    val s2 = TextFeatures.stratifiedSample(docs, "lang", frac, seed = 7)
    assert(s1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      s2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    val counts = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("de"))
    assert(counts("es") === totals("es"))
    val enRatio = counts("en").toDouble / totals("en")
    assert(enRatio > 0.3 && enRatio < 0.7, s"en ratio $enRatio")
  }

  test("train/val/test split partitions the corpus without overlap") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val Array(tr, va, te) = TextFeatures.trainValTest(docs)
    assert(tr.count() + va.count() + te.count() === docs.count())
    assert(tr.join(te, Seq("doc_id"), "inner").count() === 0)
    assert(tr.count() > va.count() && tr.count() > te.count())
  }
}
