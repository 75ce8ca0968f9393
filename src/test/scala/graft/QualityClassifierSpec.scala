package graft

import org.apache.spark.sql.functions._

import graft.text.{QualityClassifier, TextStats}

/** The learned Naive Bayes quality classifier: train/score/serve parity,
  * save/load, degenerate inputs, the exact-long-sum partition contract —
  * and the driver-side micronat quantizer both text models' literal
  * defaults ride on. */
class QualityClassifierSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.tables.Tables.load(spark, sf, "documents")

  test("classifier separates reference-like from pool-like text") {
    import spark.implicits._
    // positives: fluent english phrasing; negatives: keyboard-mash junk.
    // two unlabeled probes — a restatement of the reference style and a
    // junk lookalike — must score on opposite sides of zero
    val ref = "the committee reviewed the annual report and approved the " +
      "budget for the next fiscal year with minor amendments"
    val junk = "zxqv kjh wqpo zzkl mnbv qqwe rtyu asdf ghjk zxcv bnml " +
      "poiu ytre wqas dfgh jklz xcvb nmqw erty"
    val d = Seq(
      (1L, ref, "pos"), (2L, ref.replace("annual", "quarterly"), "pos"),
      (3L, junk, "neg"), (4L, junk.replace("zxqv", "vqxz"), "neg"),
      (11L, ref.replace("committee", "board"), "probe"),
      (12L, junk.replace("kjh", "hjk"), "probe"))
      .toDF("doc_id", "text", "cls")
    val s = QualityClassifier.classifierScore(d,
        col("cls") === "pos", col("cls") === "neg")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("avg_micronats")).toMap
    assert(s(11L) > 0L, s"reference-like probe scored ${s(11L)}")
    assert(s(12L) < 0L, s"junk probe scored ${s(12L)}")
  }

  test("scoreWithClassifier(trainQualityClassifier) equals the in-line " +
      "classifierScore row-for-row") {
    val inline = QualityClassifier.classifierScore(docs,
      col("lang") === "en", col("lang") =!= "en")
    val model = QualityClassifier.trainQualityClassifier(docs,
      col("lang") === "en", col("lang") =!= "en")
    val served = QualityClassifier.scoreWithClassifier(model, docs)
    assert(inline.exceptAll(served).isEmpty && served.exceptAll(inline).isEmpty)
  }

  test("classifier save/load roundtrip scores identically to the in-memory model") {
    val model = QualityClassifier.trainQualityClassifier(docs,
      col("lang") === "en", col("lang") =!= "en")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nb-lake").toString
    val lake = new graft.tables.LakeTable(spark, dir)
    QualityClassifier.saveClassifier(lake, "m", model)
    val loaded = QualityClassifier.loadClassifier(lake, "m")
    assert(loaded.defaultMicronats === model.defaultMicronats)
    assert(loaded.numBuckets === model.numBuckets)
    val a = QualityClassifier.scoreWithClassifier(model, docs)
    val b = QualityClassifier.scoreWithClassifier(loaded, docs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("trainQualityClassifier fails fast when a class has no grams") {
    import spark.implicits._
    val d = Seq((1L, "only positives here", "pos")).toDF("doc_id", "text", "cls")
    val e = intercept[IllegalArgumentException](
      QualityClassifier.trainQualityClassifier(d,
        col("cls") === "pos", col("cls") === "neg"))
    assert(e.getMessage.contains("both classes"))
  }

  test("zero-token docs drop out of classifier scoring") {
    import spark.implicits._
    val d = Seq((1L, "a b c", "pos"), (2L, "x y z", "neg"), (3L, "   ", "probe"))
      .toDF("doc_id", "text", "cls")
    val ids = QualityClassifier.classifierScore(d,
        col("cls") === "pos", col("cls") === "neg")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L))
  }

  test("classifier scores are partition-count invariant (exact long sums)") {
    // the micronat-sum contract: no float accumulation order anywhere, so
    // any physical partitioning produces bit-identical rows
    def run(d: org.apache.spark.sql.DataFrame) =
      QualityClassifier.classifierScore(d,
        col("lang") === "en", col("lang") =!= "en")
    val a = run(docs)
    val b = run(docs.repartition(7))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("driver-side micronats equal Spark's micronats Column on both model defaults") {
    import spark.implicits._
    // the two literal defaults the text models compute on the driver:
    // NB's ln((nn+B)/(np+B)) and the LM's ln(0.4/(N+V)); Spark's log is
    // StrictMath.log, and the driver spelling must replay it bit-for-bit
    val rnd = new scala.util.Random(20261019L)
    val rows = (0 until 100000).map { _ =>
      val scale = math.pow(10, rnd.nextInt(13)).toLong
      (1L + (rnd.nextDouble() * scale).toLong,
        1L + (rnd.nextDouble() * scale).toLong,
        1L << (1 + rnd.nextInt(24)),
        2L + (rnd.nextDouble() * scale).toLong)
    }
    val viaSpark = rows.toDF("np", "nn", "b", "nv")
      .select(
        TextStats.micronats((col("nn") + col("b")).cast("double") /
          (col("np") + col("b")).cast("double")).as("nb"),
        TextStats.micronats(lit(0.4) / col("nv").cast("double")).as("lm"))
      .collect()
    val mismatches = rows.zip(viaSpark).count { case ((np, nn, b, nv), r) =>
      r.getLong(0) != TextStats.lnMicronats((nn + b).toDouble / (np + b).toDouble) ||
        r.getLong(1) != TextStats.lnMicronats(0.4 / nv.toDouble)
    }
    assert(mismatches === 0)
  }
}
