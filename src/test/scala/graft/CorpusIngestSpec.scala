package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.stream.CorpusIngest
import graft.tables.LakeTable

case class DocRow(doc_id: Long, text: String, lang: String, source: String,
                  n_chars: Long)

/** End-to-end streaming corpus ingestion: quality gate, in-batch dedup,
  * incremental dedup against committed lake versions, idempotent replay. */
class CorpusIngestSpec extends SparkSpec {

  private def longText(seedWord: String): String =
    (1 to 30).map(i => s"$seedWord$i").mkString(" ")   // 30 distinct tokens

  private def doc(id: Long, text: String) =
    DocRow(id, text, "en", "web", text.length.toLong)

  /** The file-stream source lists FILES, not subdirectories — stage each
    * micro-batch as a single flat parquet file. */
  private def writeBatchFile(dir: String, name: String, rows: Seq[DocRow]): Unit = {
    val tmp = Files.createTempDirectory("graft-corpus-stage").toString + "/out"
    df(rows).coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
  }

  test("streamed corpus is gated, deduped across commits, and replay-safe") {
    val in = Files.createTempDirectory("graft-corpus-in").toString
    val lakeDir = Files.createTempDirectory("graft-corpus-lake").toString
    val ckpt = Files.createTempDirectory("graft-corpus-ckpt").toString
    val lake = new LakeTable(spark, lakeDir)

    val keeper = longText("alpha")
    writeBatchFile(in, "b1", Seq(
      doc(1, keeper),
      doc(2, keeper),                      // in-batch exact dup of 1
      doc(3, "too short"),                 // fails the quality gate
      doc(4, longText("beta"))))
    val q1 = CorpusIngest.start(spark, in, lake, "corpus",
      Trigger.AvailableNow(), Some(ckpt))
    q1.awaitTermination(120000)
    assert(q1.exception.isEmpty)
    val after1 = lake.read("corpus").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after1 === Set(1L, 4L))

    writeBatchFile(in, "b2", Seq(
      doc(5, keeper),                      // dup of committed doc 1 -> dropped
      doc(6, longText("gamma")),
      doc(7, "x y")))                      // fails the gate
    val q2 = CorpusIngest.start(spark, in, lake, "corpus",
      Trigger.AvailableNow(), Some(ckpt))
    q2.awaitTermination(120000)
    assert(q2.exception.isEmpty)
    val after2 = lake.read("corpus").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after2 === Set(1L, 4L, 6L))

    // replay WITHOUT the checkpoint: every file reprocesses, but the lake's
    // own keys absorb them — the table is the dedup index, so the ingest is
    // idempotent even when streaming state is lost
    val q3 = CorpusIngest.start(spark, in, lake, "corpus",
      Trigger.AvailableNow(), checkpoint = None)
    q3.awaitTermination(120000)
    assert(q3.exception.isEmpty)
    val after3 = lake.read("corpus").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after3 === Set(1L, 4L, 6L))
    // dup keys stay unique across all commits
    val keys = lake.read("corpus").select("dup_key").collect()
    assert(keys.map(_.toString).distinct.length === keys.length)
  }

  test("near-dup ingest drops MinHash matches against committed batches") {
    val in = Files.createTempDirectory("graft-neardup-in").toString
    val lakeDir = Files.createTempDirectory("graft-neardup-lake").toString
    val lake = new LakeTable(spark, lakeDir)

    val alpha = longText("alpha")
    // ~2 words changed out of 30: word-set Jaccard ≈ 28/32 = 0.875 > 0.6
    val alphaNear = alpha.replace("alpha1 ", "changed ").replace("alpha2 ", "words ")
    writeBatchFile(in, "b1", Seq(doc(1, alpha), doc(4, longText("beta"))))
    val q1 = CorpusIngest.startNearDup(spark, in, lake, "corpus2",
      threshold = 0.6)
    q1.awaitTermination(120000)
    assert(q1.exception.isEmpty)
    assert(lake.read("corpus2").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 4L))

    writeBatchFile(in, "b2", Seq(
      doc(6, alphaNear),                   // NEAR dup of committed 1 — only
                                           // the lake's band index can catch it
      doc(7, longText("gamma")),           // novel
      doc(8, longText("gamma")),           // in-batch exact dup of 7
      doc(9, longText("delta") + " " + longText("delta2")))) // novel
    val q2 = CorpusIngest.startNearDup(spark, in, lake, "corpus2",
      threshold = 0.6)
    q2.awaitTermination(120000)
    assert(q2.exception.isEmpty)
    val after2 = lake.read("corpus2").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(after2 === Set(1L, 4L, 7L, 9L))

    // replay with no checkpoint: idempotent (the lake is the near-dup index)
    val q3 = CorpusIngest.startNearDup(spark, in, lake, "corpus2",
      threshold = 0.6)
    q3.awaitTermination(120000)
    assert(q3.exception.isEmpty)
    assert(lake.read("corpus2").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 4L, 7L, 9L))
    // every committed row carries its band index for future batches
    assert(lake.read("corpus2").select("lsh_bands").collect()
      .forall(!_.isNullAt(0)))
  }

  test("containment-aware ingest drops a quote embedded in a committed doc") {
    val in = Files.createTempDirectory("graft-contain-in").toString
    val lakeDir = Files.createTempDirectory("graft-contain-lake").toString
    val lake = new LakeTable(spark, lakeDir)

    val page = (1 to 40).map(i => s"tok$i").mkString(" ")
    writeBatchFile(in, "b1", Seq(doc(1, page), doc(2, longText("beta"))))
    val q1 = CorpusIngest.startNearDup(spark, in, lake, "corpus3",
      threshold = 0.8, containmentThreshold = Some(0.9))
    q1.awaitTermination(120000)
    assert(q1.exception.isEmpty)
    assert(lake.read("corpus3").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // the containment index mirrors the committed table
    assert(lake.read("corpus3_grams").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))

    // quote = 25 of the page's 40 tokens: word Jaccard 0.625 < 0.8 slips
    // the near-dup stages, but every quote gram lives in the committed page
    // (containment 1.0) — only the gram index can catch it
    val quote = (1 to 25).map(i => s"tok$i").mkString(" ")
    writeBatchFile(in, "b2", Seq(doc(5, quote), doc(6, longText("gamma"))))
    val q2 = CorpusIngest.startNearDup(spark, in, lake, "corpus3",
      threshold = 0.8, containmentThreshold = Some(0.9))
    q2.awaitTermination(120000)
    assert(q2.exception.isEmpty)
    assert(lake.read("corpus3").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 6L))
    assert(lake.read("corpus3_grams").select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 6L))

    // control: without the containment stage the quote would have landed
    val lake2 = new LakeTable(spark,
      Files.createTempDirectory("graft-contain-lake2").toString)
    val in2 = Files.createTempDirectory("graft-contain-in2").toString
    writeBatchFile(in2, "b1", Seq(doc(1, page), doc(2, longText("beta"))))
    val p1 = CorpusIngest.startNearDup(spark, in2, lake2, "corpus4",
      threshold = 0.8)
    p1.awaitTermination(120000)
    writeBatchFile(in2, "b2", Seq(doc(5, quote), doc(6, longText("gamma"))))
    val p2 = CorpusIngest.startNearDup(spark, in2, lake2, "corpus4",
      threshold = 0.8)
    p2.awaitTermination(120000)
    assert(lake2.read("corpus4").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 5L, 6L))
    graft.ops.Caching.releaseAll(spark)
  }

  test("enabling containment on an existing lake bootstraps the gram index " +
    "over all committed docs") {
    val in = Files.createTempDirectory("graft-boot-in").toString
    val lakeDir = Files.createTempDirectory("graft-boot-lake").toString
    val lake = new LakeTable(spark, lakeDir)

    // batch 1 lands WITHOUT containment — no gram index exists afterwards
    val page = (1 to 40).map(i => s"tok$i").mkString(" ")
    writeBatchFile(in, "b1", Seq(doc(1, page), doc(2, longText("beta"))))
    val q1 = CorpusIngest.startNearDup(spark, in, lake, "corpus5",
      threshold = 0.8)
    q1.awaitTermination(120000)
    assert(!lake.exists("corpus5_grams"))

    // batch 2 ENABLES containment: the repair pass must index the already-
    // committed docs first, so a quote of batch-1's page is caught
    val quote = (1 to 25).map(i => s"tok$i").mkString(" ")
    writeBatchFile(in, "b2", Seq(doc(5, quote), doc(6, longText("gamma"))))
    val q2 = CorpusIngest.startNearDup(spark, in, lake, "corpus5",
      threshold = 0.8, containmentThreshold = Some(0.9))
    q2.awaitTermination(120000)
    assert(q2.exception.isEmpty)
    assert(lake.read("corpus5").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 6L))
    // the bootstrapped index covers committed AND newly-landed docs
    assert(lake.read("corpus5_grams").select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 6L))
    graft.ops.Caching.releaseAll(spark)
  }

  test("event stream source starts against an empty directory (declared-schema fallback)") {
    val empty = Files.createTempDirectory("graft-empty-events").toString
    val stream = graft.stream.Events.readEventStream(spark, empty,
      waitForFilesMs = 0)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("streamed two-batch containment ingest equals the batch twin row-for-row") {
    val in = Files.createTempDirectory("graft-twin-in").toString
    val lakeDir = Files.createTempDirectory("graft-twin-lake").toString
    val lake = new LakeTable(spark, lakeDir)
    val alpha = longText("alpha")
    val alphaNear = alpha.replace("alpha1 ", "changed ")   // in-batch near-dup
    // 20 tokens of alpha: shingle-J vs alpha = 18/28 ≈ 0.64 (slips the
    // 0.8 near-dup stage) but containment = 18/18 = 1.0 (caught)
    val quote = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val beta = longText("beta")
    val betaNear = beta.replace("beta1 ", "flipped ")      // cross-batch near-dup
    val b1 = Seq(doc(1, alpha), doc(2, alphaNear), doc(3, beta),
      doc(4, alpha))                                       // 4 = exact dup of 1
    val b2 = Seq(doc(5, betaNear), doc(6, quote), doc(7, longText("gamma")),
      doc(8, "too short"))                                 // 8 fails the gate
    writeBatchFile(in, "b1", b1)
    val q1 = CorpusIngest.startNearDup(spark, in, lake, "twin_t",
      threshold = 0.8, numPerms = 128, bands = 32,
      containmentThreshold = Some(0.8), shingleVerify = true)
    q1.awaitTermination(120000)
    assert(q1.exception.isEmpty)
    writeBatchFile(in, "b2", b2)
    val q2 = CorpusIngest.startNearDup(spark, in, lake, "twin_t",
      threshold = 0.8, numPerms = 128, bands = 32,
      containmentThreshold = Some(0.8), shingleVerify = true)
    q2.awaitTermination(120000)
    assert(q2.exception.isEmpty)
    val streamed = lake.read("twin_t").select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val twin = CorpusIngest.nearDupIngestTwin(spark, df(b1), df(b2),
        threshold = 0.8, containmentThreshold = Some(0.8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === twin)
    // and the decisions are the expected ones: 1 keeps (4 exact, 2 near),
    // 3 keeps, 5 near-dups committed 3, 6 is contained in committed 1,
    // 7 lands, 8 gated out
    assert(streamed.map(_._1) === Set(1L, 3L, 7L))
    graft.ops.Caching.releaseAll(spark)
  }

  test("micro-batch shuffle sizing is decision-invariant and restores the session width") {
    // every ingest batch runs at MicroBatch.ShuffleWidth with AQE off: the
    // landed set must not depend on the session's own width, and the span
    // must hand both conf keys back — also when the batch throws inside it
    val alpha = longText("alpha")
    val b1 = Seq(doc(1, alpha), doc(2, alpha.replace("alpha1 ", "changed ")),
      doc(3, longText("beta")), doc(4, alpha))
    val b2 = Seq(doc(5, longText("beta").replace("beta1 ", "flipped ")),
      doc(6, (1 to 20).map(i => s"alpha$i").mkString(" ")),
      doc(7, longText("gamma")), doc(8, "too short"))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    def conf() = keys.map(spark.conf.get)
    def run() = CorpusIngest.nearDupIngestTwin(spark,
        df(b1), df(b2), threshold = 0.8, containmentThreshold = Some(0.8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = conf()
    val base = run()
    assert(conf() === before)
    spark.conf.set(keys.head, "3")
    try {
      assert(run() === base)
      assert(conf() === Seq("3", before(1)))
      intercept[IllegalArgumentException](CorpusIngest.nearDupIngestTwin(spark,
        df(b1), df(b2), gate = "bogus"))
      assert(conf() === Seq("3", before(1)))
    } finally spark.conf.set(keys.head, before.head)
    graft.ops.Caching.releaseAll(spark)
  }

  test("gopher gate rejects a doc the basic gate admits (batch/stream parity)") {
    // 30 distinct tokens: passes the basic gate (>= 20 tokens), but FAILS
    // the Gopher bundle (< 50 words); a 60-word doc with stop words passes
    val shortish = longText("alpha")
    val gopherOk = ("the be to of and that have with " +
      (1 to 52).map(i => s"word$i").mkString(" "))
    val docs = df(Seq(doc(1, shortish), doc(2, gopherOk)))
    val basic = CorpusIngest.qualityGate(docs).collect()
      .map(_.getLong(0)).toSet
    val gopher = CorpusIngest.qualityGate(docs, gate = "gopher").collect()
      .map(_.getLong(0)).toSet
    assert(basic === Set(1L, 2L))
    assert(gopher === Set(2L))
    // and the predicate is the SAME one the batch refinery gates with
    val viaRefinery = graft.text.Refinery.gate(docs,
        graft.text.Refinery.Config(gate = "gopher")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(viaRefinery === gopher)
    // threaded end-to-end: a gopher-gated stream lands only the long doc
    val in = Files.createTempDirectory("graft-gopher-in").toString
    val lakeDir = Files.createTempDirectory("graft-gopher-lake").toString
    val lake = new LakeTable(spark, lakeDir)
    writeBatchFile(in, "b1", Seq(doc(1, shortish), doc(2, gopherOk)))
    val q = CorpusIngest.start(spark, in, lake, "gop", gate = "gopher")
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    assert(lake.read("gop").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(2L))
  }

  test("LM gate rejects a garbled doc the basic gate admits (stream == twin)") {
    import org.apache.spark.sql.functions._
    // trusted slice (en): fluent repeated phrasing; the scored pool holds
    // one restatement (low nll) and one scramble (high nll) — both pass
    // the basic gate (>= 20 distinct-ish tokens)
    val phrase = "the quick brown fox jumps over the lazy dog " +
      (1 to 15).map(i => s"pad$i").mkString(" ")
    val scramble = "dog lazy the over jumps fox brown quick the " +
      (15 to 1 by -1).map(i => s"pad$i").mkString(" ")
    val trainDocs = (1 to 4).map(i => DocRow(i.toLong, phrase, "en", "wiki", 0))
    val model = graft.text.LangModel.trainLm(df(trainDocs), col("lang") === "en")
    // calibrate the threshold between the two pools' scores
    val scores = graft.text.LangModel.scoreWithLm(model,
        df(Seq(DocRow(11, phrase, "fr", "web", 0),
          DocRow(12, scramble, "fr", "web", 0))))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(scores(11L) < scores(12L))
    val cut = (scores(11L) + scores(12L)) / 2
    val gate = CorpusIngest.LmGate(model, cut)
    // stream with the gate: only the fluent doc lands
    val in = Files.createTempDirectory("graft-lm-in").toString
    val lakeDir = Files.createTempDirectory("graft-lm-lake").toString
    val lake = new LakeTable(spark, lakeDir)
    writeBatchFile(in, "b1", Seq(DocRow(11, phrase, "fr", "web", 0),
      DocRow(12, scramble, "fr", "web", 0)))
    val q = CorpusIngest.startNearDup(spark, in, lake, "lmg",
      shingleVerify = true, lmGate = Some(gate))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    assert(lake.read("lmg").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(11L))
    // and the batch twin makes the identical admit/reject decisions
    val twin = CorpusIngest.nearDupIngestTwin(spark,
      df(Seq(DocRow(11, phrase, "fr", "web", 0))),
      df(Seq(DocRow(12, scramble, "fr", "web", 0))),
      lmGate = Some(gate))
    assert(twin.select("doc_id").collect().map(_.getLong(0)).toSet === Set(11L))
  }

  test("NB classifier gate rejects the junk doc the basic gate admits (stream == twin)") {
    import org.apache.spark.sql.functions._
    // train: trusted english vs keyboard-mash pool labels; the stream then
    // ingests two unlabeled probes — a reference-like doc and a junk doc —
    // and the log-odds sign (threshold 0) must admit only the former
    val ref = "the committee reviewed the annual report and approved the " +
      "budget for the next fiscal year with minor amendments"
    val junk = "zxqv kjh wqpo zzkl mnbv qqwe rtyu asdf ghjk zxcv bnml " +
      "poiu ytre wqas dfgh jklz xcvb nmqw erty"
    val trainDocs = df(Seq(
      DocRow(1, ref, "en", "wiki", 0),
      DocRow(2, ref.replace("annual", "quarterly"), "en", "wiki", 0),
      DocRow(3, junk, "xx", "web", 0),
      DocRow(4, junk.replace("zxqv", "vqxz"), "xx", "web", 0)))
    val model = graft.text.QualityClassifier.trainQualityClassifier(
      trainDocs, col("lang") === "en", col("lang") =!= "en")
    val gate = CorpusIngest.NbGate(model)
    // probes carry their own pads to clear the 20-token basic gate; the
    // pads hash to unseen buckets (default weight ~0 with balanced
    // classes), so the core grams decide the log-odds sign
    val probes = Seq(
      DocRow(11, ref.replace("committee", "board") + " " +
        (1 to 8).map(i => s"pa$i").mkString(" "), "fr", "web", 0),
      DocRow(12, junk.replace("kjh", "hjk") + " " +
        (1 to 8).map(i => s"pb$i").mkString(" "), "fr", "web", 0))
    val in = Files.createTempDirectory("graft-nb-in").toString
    val lakeDir = Files.createTempDirectory("graft-nb-lake2").toString
    val lake = new LakeTable(spark, lakeDir)
    writeBatchFile(in, "b1", probes)
    val q = CorpusIngest.startNearDup(spark, in, lake, "nbg",
      shingleVerify = true, nbGate = Some(gate))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    assert(lake.read("nbg").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(11L))
    // the batch twin makes the identical admit/reject decisions
    val twin = CorpusIngest.nearDupIngestTwin(spark,
      df(Seq(probes.head)), df(Seq(probes.last)), nbGate = Some(gate))
    assert(twin.select("doc_id").collect().map(_.getLong(0)).toSet === Set(11L))
  }

  test("calibrated LM gate: the incremental stream admits exactly the batch " +
      "refinery's survivors") {
    import org.apache.spark.sql.functions._
    // trusted slice: a fluent 13-word phrase plus shared pads; pool: six
    // docs that scramble the PHRASE at increasing depth but carry each
    // their OWN pad tokens, so (a) avg-nll scores are strictly ordered by
    // scramble depth (each extra swap breaks more trained bigrams, pads
    // cost every doc the same unk penalty), and (b) no pool doc is a
    // shingle near-dup of the train slice or of another pool doc — the
    // dedup stages must not perturb the LM-decision comparison
    val phrase =
      "the quick brown fox jumps over the lazy dog and runs far away".split(" ")
    def poolDoc(id: Long, swaps: Int): DocRow = {
      val arr = phrase.clone()
      (0 until swaps).foreach { j =>
        val t = arr(2 * j); arr(2 * j) = arr(2 * j + 1); arr(2 * j + 1) = t
      }
      val pads = (1 to 15).map(i => s"p${id}n$i").mkString(" ")
      DocRow(id, arr.mkString(" ") + " " + pads, "fr", "web", 0)
    }
    val train = (1 to 4).map(i => DocRow(i.toLong,
      phrase.mkString(" ") + " " + (1 to 15).map(j => s"pad$j").mkString(" "),
      "en", "wiki", 0))
    val pool = (0 until 6).map(i => poolDoc(11L + i, i))
    val corpus = df(train ++ pool)
    // batch side: the refinery with the CCNet LM stage drops the worst
    // half of the scored pool by global rank
    val cfg = graft.text.Refinery.Config(
      lmFilter = Some(graft.text.Refinery.LmFilter("lang = 'en'",
        tailPermille = 500)))
    val batchSurvivors = graft.text.Refinery.refine(corpus, cfg)
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet.filter(_ >= 11L)
    // stream side: threshold calibrated FROM the batch contract, model
    // trained once, then the pool arrives in two incremental micro-batches
    val threshold = graft.text.LangModel.calibrateLmGate(corpus,
      col("lang") === "en", tailPermille = 500)
    val model = graft.text.LangModel.trainLm(corpus, col("lang") === "en")
    val gate = CorpusIngest.LmGate(model, threshold)
    val in = Files.createTempDirectory("graft-lmcal-in").toString
    val lakeDir = Files.createTempDirectory("graft-lmcal-lake").toString
    val lake = new LakeTable(spark, lakeDir)
    writeBatchFile(in, "b1", pool.take(3))
    writeBatchFile(in, "b2", pool.drop(3))
    val q = CorpusIngest.startNearDup(spark, in, lake, "lmcal",
      shingleVerify = true, lmGate = Some(gate))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    val landed = lake.read("lmcal").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // a FIXED threshold, applied one micro-batch at a time, reproduces the
    // batch pipeline's global-rank decisions — the batch -> stream loop
    assert(landed === batchSurvivors)
    assert(landed.size === 3)
  }
}
