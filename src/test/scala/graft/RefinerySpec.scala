package graft

import graft.text.Refinery

/** The composed corpus refinery: gate -> dedup -> cap -> chunk. */
class RefinerySpec extends SparkSpec {

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("refine gates, dedups, caps per source, and chunks the survivors") {
    val docs = df(Seq(
      DocRow(1, words("alpha", 250), "en", "web", 0),
      DocRow(2, words("alpha", 250), "en", "web", 0),     // exact dup of 1
      DocRow(3, "too short", "en", "web", 0),             // gated out
      DocRow(4, words("beta", 100), "en", "web", 0),
      DocRow(5, words("gamma", 100), "en", "books", 0),
      DocRow(6, words("delta", 100), "en", "books", 0)))
    val cfg = Refinery.Config(maxDocsPerSource = 1, chunk = 100, stride = 100)
    val out = Refinery.refine(docs, cfg).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(4)))
    val byDoc = out.groupBy(_._1)
    // one doc per source survives the cap; doc 3 was gated, dup collapsed
    assert(byDoc.keySet.size === 2)
    assert(byDoc.keySet.subsetOf(Set(1L, 2L, 4L, 5L, 6L)))
    // surviving 250-token doc (if kept) yields chunks 100/100/50
    byDoc.values.foreach { chunks =>
      val lens = chunks.sortBy(_._2).map(_._3).toSeq
      assert(lens === Seq(100, 100, 50) || lens === Seq(100))
    }
  }

  test("the fully composed refinery gives the pinned chunk rows") {
    // all five stages firing at once (gate + LM + classifier + near-dup +
    // containment) — the config whose un-truncated composed plan measurably
    // OOMs the analyzer at corpus scale. The rows are the ones the lazy-
    // persist and the eager-checkpoint refinery both gave before every
    // stage became a flat leaf: how stages hand off changes execution,
    // never rows
    val trusted = (1 to 6).map(i =>
      DocRow(i.toLong, "the quick brown fox jumps over the lazy dog " +
        words("pad", 15), "en", "wiki", 0))
    val fluent = (11 to 14).map(i =>
      DocRow(i.toLong, "the quick brown fox jumps over the lazy dog " +
        words("pad", 15), "fr", "web", 0))
    val garbled = (21 to 24).map(i =>
      DocRow(i.toLong, "dog lazy the over jumps fox brown quick the " +
        words("pad", 15).split(" ").reverse.mkString(" "), "fr", "web", 0))
    val dup = Seq(DocRow(31L, "the quick brown fox jumps over the lazy dog " +
      words("pad", 15), "fr", "web", 0)) // exact dup of the fluent text
    val docs = df(trusted ++ fluent ++ garbled ++ dup)
    val cfg = Refinery.Config(
      lmFilter = Some(Refinery.LmFilter("lang = 'en'", tailPermille = 300)),
      classifierFilter = Some(Refinery.NbFilter("lang = 'en'", "lang <> 'en'",
        minAvgMicronats = -2000000L)),
      containment = true)
    val rows = Refinery.refine(docs, cfg).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(identity).toSeq
    assert(rows === Seq((1L, 24, 0), (21L, 24, 0)))
  }

  test("lmFilter drops exactly the standalone tail tier; the trusted slice always passes") {
    import org.apache.spark.sql.functions._
    // trusted en slice: fluent repeated phrasing; scored pool: some docs
    // restate the trusted phrasing (low nll), some scramble it (high nll)
    val trusted = (1 to 6).map(i =>
      DocRow(i.toLong, "the quick brown fox jumps over the lazy dog " +
        words("pad", 15), "en", "wiki", 0))
    val fluent = (11 to 14).map(i =>
      DocRow(i.toLong, "the quick brown fox jumps over the lazy dog " +
        words("pad", 15), "fr", "web", 0))
    val garbled = (21 to 24).map(i =>
      DocRow(i.toLong, "dog lazy the over jumps fox brown quick the " +
        words("pad", 15).split(" ").reverse.mkString(" "), "fr", "web", 0))
    val docs = df(trusted ++ fluent ++ garbled)
    val cfg = Refinery.Config(
      lmFilter = Some(Refinery.LmFilter("lang = 'en'", tailPermille = 400)))
    val survivors = Refinery.refine(docs, cfg)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // composition contract: survivors == refinery-without-lm over
    // (gated minus the standalone buckets' tail)
    val gated = Refinery.gate(docs, cfg)
    val tail = graft.text.LangModel.perplexityBuckets(gated,
        expr("lang = 'en'"), headPermille = 0, tailPermille = 400)
      .filter(col("bucket") === "tail").collect().map(_.getLong(0)).toSet
    val expected = Refinery.refine(
        docs.filter(!col("doc_id").isin(tail.toSeq: _*)),
        Refinery.Config())
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(survivors === expected)
    // the tail is the scrambled docs, never the trusted slice
    assert(tail.nonEmpty && tail.forall(_ >= 21L))
    assert(trusted.map(_.doc_id).toSet.intersect(tail).isEmpty)
  }

  test("classifierFilter drops pool docs the learned filter scores below " +
      "threshold; the trusted slice always passes") {
    import org.apache.spark.sql.functions._
    // trusted: fluent english phrasing (each with its own pads so the
    // near-dup stage leaves the comparison alone); pool: one doc restating
    // the reference style, one keyboard-mash junk doc
    val refText = "the committee reviewed the annual report and approved " +
      "the budget for the next fiscal year with minor amendments"
    val junk = "zxqv kjh wqpo zzkl mnbv qqwe rtyu asdf ghjk zxcv bnml " +
      "poiu ytre wqas dfgh jklz xcvb nmqw erty"
    val trusted = (1 to 3).map(i =>
      DocRow(i.toLong, refText + " " + words(s"t${i}pad", 8), "en", "wiki", 0))
    // the junk doc carries its own pads too: it must CLEAR the 20-token
    // basic gate so the classifier stage — not the gate — is what drops it
    val pool = Seq(
      DocRow(11L, refText.replace("committee", "board") + " " +
        words("ppad", 8), "fr", "web", 0),
      DocRow(12L, junk + " " + words("jpad", 8), "fr", "web", 0))
    val docs = df(trusted ++ pool)
    val cfg = Refinery.Config(
      classifierFilter = Some(Refinery.NbFilter(
        "lang = 'en'", "lang <> 'en'", minAvgMicronats = 0L)))
    // anti-vacuity: without the classifier stage the junk doc SURVIVES the
    // pipeline — whatever the filter drops below, it is the filter doing it
    val without = Refinery.refine(docs,
        cfg.copy(classifierFilter = None))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(without === Set(1L, 2L, 3L, 11L, 12L))
    val survivors = Refinery.refine(docs, cfg)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // the junk pool doc falls below the log-odds floor; the reference-like
    // pool doc and the whole trusted slice survive to the chunk plan
    assert(survivors === Set(1L, 2L, 3L, 11L))
  }

  test("classifierFilter treats a NULL trusted-predicate as untrusted") {
    import org.apache.spark.sql.functions._
    val refText = "the committee reviewed the annual report and approved " +
      "the budget for the next fiscal year with minor amendments"
    val junk = "zxqv kjh wqpo zzkl mnbv qqwe rtyu asdf ghjk zxcv bnml " +
      "poiu ytre wqas dfgh jklz xcvb nmqw erty"
    val trusted = (1 to 3).map(i =>
      DocRow(i.toLong, refText + " " + words(s"t${i}pad", 8), "en", "wiki", 0))
    // lang = NULL junk doc: "lang = 'en'" evaluates NULL — it must still
    // face the classifier floor, exactly as the stream NbGate would
    val nullLang = df(Seq((21L, junk + " " + words("npad", 8),
      null.asInstanceOf[String], "web", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = df(trusted).unionByName(nullLang)
    val cfg = Refinery.Config(
      classifierFilter = Some(Refinery.NbFilter(
        "lang = 'en'", "lang <> 'en' OR lang IS NULL", minAvgMicronats = 0L)))
    val survivors = Refinery.refine(docs, cfg)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(survivors === Set(1L, 2L, 3L))
  }

  test("default config passes realistic docs through unchanged") {
    val docs = df(Seq(
      DocRow(10, words("x", 40), "en", "web", 0),
      DocRow(11, words("y", 40), "en", "web", 0)))
    val out = Refinery.refine(docs).collect()
    assert(out.map(_.getLong(0)).toSet === Set(10L, 11L))
  }
}
