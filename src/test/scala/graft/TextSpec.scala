package graft

import org.apache.spark.sql.functions._

import graft.text.{Dedup, LangModel, TextFeatures, TextStats}

case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

class TextSpec extends SparkSpec {

  private def doc(id: Long, text: String, lang: String = "en") =
    Doc(id, text, lang, "src0", text.length.toLong)

  private val docs = Seq(
    doc(1, "the quick brown fox jumps over the lazy dog"),
    doc(2, "THE  quick   Brown fox jumps over the lazy dog"), // near-normalized dup of 1? (case/space only)
    doc(3, "a completely different document about spark engines"),
    doc(4, "the quick brown fox jumps over the lazy dog"))     // exact dup of 1

  test("normalize collapses case and whitespace") {
    val n = df(docs).select(TextStats.normalize(col("text")).as("n"))
      .collect().map(_.getString(0))
    assert(n(0) === n(1) && n(0) === n(3))
    assert(n(0) !== n(2))
  }

  test("tokenStats counts tokens and characters") {
    val r = TextStats.tokenStats(df(Seq(doc(1, "one two  three")))).collect()(0)
    assert(r.getAs[Long]("n_tokens") === 3)
    assert(r.getAs[Long]("n_chars_nospace") === 11)
    assert(math.abs(r.getAs[Double]("avg_token_len") - 11.0 / 3.0) < 1e-12)
  }

  test("exact dedup groups case/space-normalized duplicates") {
    val groups = Dedup.exactDupGroups(df(docs))
    assert(groups.count() === 2) // {1,2,4} and {3}
    val big = groups.filter(col("n_copies") === 3).collect()(0)
    assert(big.getAs[Long]("keeper_id") === 1)
    val kept = Dedup.dropExactDups(df(docs)).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 3L))
  }

  test("shingles builds n-gram word windows") {
    val s = df(Seq(doc(1, "a b c d")))
      .select(TextStats.shingles(col("text"), 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(s === Seq("a b c", "b c d"))
    val short = df(Seq(doc(1, "a b")))
      .select(TextStats.shingles(col("text"), 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(short === Seq("a b"))
  }

  test("minhash near-dup finds planted near-duplicates, not unrelated docs") {
    val base = "spark is a unified analytics engine for large scale data processing " +
      "with high level apis in scala java python and r plus an optimized engine"
    val corpus = Seq(
      doc(1, base),
      doc(2, base + " extra"),                       // near-dup of 1
      doc(3, "totally unrelated text about cooking recipes and kitchen equipment maintenance"),
      doc(4, base.replace("python", "sql")))          // near-dup of 1
    val pairs = Dedup.minhashNearDups(df(corpus), threshold = 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard: exact word-set similarity") {
    val j = df(Seq(doc(1, "x")))
      .select(Dedup.jaccard(lit(Array("a", "b", "c")), lit(Array("b", "c", "d"))).as("j"))
      .collect()(0).getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("simhash: similar docs have small hamming distance, unrelated large") {
    val base = "spark is a unified analytics engine for large scale data processing"
    val corpus = Seq(
      doc(1, base), doc(2, base + " indeed"),
      doc(3, "completely different words about gardening tomatoes greenhouse watering"))
    val fp = Dedup.simhash(df(corpus)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // short docs leave many near-tie bits, so only the relative ordering is
    // a stable property at this size
    assert(ham(fp(1), fp(2)) < ham(fp(1), fp(3)))
  }

  test("simhashNearDups finds close fingerprints via bit-band blocking") {
    val base = "spark is a unified analytics engine for large scale data processing " +
      "with high level apis in scala java python and r plus an optimized engine core"
    val corpus = Seq(
      doc(1, base),
      doc(2, base + " addendum"),                    // 1-2 token delta -> close fp
      doc(3, "entirely different prose about baking sourdough bread at home daily"))
    val pairs = Dedup.simhashNearDups(df(corpus), maxHamming = 12, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("language id picks the profile with most function-word overlap") {
    val corpus = Seq(
      doc(1, "the cat and the dog sat of it", "en"),
      doc(2, "le chat et la porte est un une", "fr"),
      doc(3, "qwerty zxcvb asdfgh", "en")) // no profile hit -> und
    val out = TextStats.languageId(df(corpus)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(out(1) === "en")
    assert(out(2) === "fr")
    assert(out(3) === "und")
  }

  test("fingerprint is deterministic and order-sensitive") {
    val fps = TextStats.fingerprints(df(Seq(
      doc(1, "ab c"), doc(2, "ab c"), doc(3, "c ab")))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1) === fps(2))
    assert(fps(1) !== fps(3))
  }

  test("redactPii scrubs emails and phone spans, leaves clean text alone") {
    val rows = df(Seq(
      doc(1, "mail me at jane.doe+x@corp.example.org today"),
      doc(2, "call +46 70 123 45 67 or 555-867-5309 now"),
      doc(3, "nothing sensitive here"),
      doc(4, "range 2023 - 2024 and 12 - 31 - 99")))
      .select(col("doc_id"), TextStats.redactPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1) === "mail me at <EMAIL> today")
    assert(rows(2) === "call <PHONE> or 555-867-5309 now" ||
      rows(2).contains("<PHONE>")) // dashes-only numbers also redact
    assert(!rows(2).contains("+46"))
    assert(rows(3) === "nothing sensitive here")
    // bounded separators: " - " gaps (two chars between digits) no longer
    // chain short number runs into one fake "phone" span
    assert(rows(4) === "range 2023 - 2024 and 12 - 31 - 99")
    val url = TextStats.redactPii(lit("read https://ex.com/a?b=1 and http://ex.org x"))
    val u = df(Seq(doc(1, "-"))).select(url.as("t")).head().getString(0)
    assert(u === "read <URL> and <URL> x")
  }

  test("repetitionRatio: repeated bigrams raise the ratio, short docs are 0") {
    val out = TextStats.repetitionRatio(df(Seq(
      doc(1, "a b a b a"),     // bigrams: ab ba ab ba -> 2 distinct of 4
      doc(2, "all words differ here"),
      doc(3, "single"))))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1) === ((4L, 2L, 0.5)))
    assert(out(2) === ((3L, 3L, 0.0)))
    assert(out(3) === ((0L, 0L, 0.0)))
  }

  test("bpeTokenCount splits contractions, digit runs, and punctuation") {
    val n = df(Seq(doc(1, "don't stop! 12345 x-y")))
      .select(TextStats.bpeTokenCount(col("text")).as("n")).head().getInt(0)
    // don | 't | stop | ! | 123 | 45 | x | - | y
    assert(n === 9)
  }

  test("termFrequencies counts normalized tokens corpus-wide") {
    val tf = TextStats.termFrequencies(df(Seq(
      doc(1, "The  cat and the DOG"), doc(2, "the dog runs"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tf("the") === 3L)
    assert(tf("dog") === 2L)
    assert(tf("cat") === 1L)
    assert(tf("runs") === 1L)
  }

  test("text operators return the same rows at 1 or 7 shuffle partitions " +
      "and on a repartitioned corpus") {
    val corpus = graft.tables.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "lmScore" -> (d => LangModel.lmScore(d, col("lang") === "en")),
      "containmentNearDupsBanded" -> (d => Dedup.containmentNearDupsBanded(d)),
      "dedupCorpusShingle" -> (d => Dedup.dedupCorpusShingle(d)),
      "dedupCorpusKeepBest" -> (d => Dedup.dedupCorpusKeepBest(d)),
      "clusterSplit" -> (d => Dedup.clusterSplit(d)),
      "spanDedup" -> (d => Dedup.spanDedup(d)),
      "dsirWeights" -> (d => TextFeatures.dsirWeights(d, col("lang") === "en")))
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    // each run starts and ends with an empty cache: a persisted frame from
    // one partitioning would otherwise serve the next run's identical plan
    def rows(op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
             d: org.apache.spark.sql.DataFrame, partitions: Int): Seq[String] = {
      graft.ops.Caching.releaseAll(spark)
      spark.conf.set(key, partitions.toString)
      try op(d).collect().map(_.toString).sorted.toSeq
      finally { spark.conf.set(key, saved); graft.ops.Caching.releaseAll(spark) }
    }
    ops.foreach { case (name, op) =>
      val base = rows(op, corpus, 1)
      assert(base.nonEmpty, s"$name returned no rows")
      assert(rows(op, corpus, 7) === base, s"$name at 7 shuffle partitions")
      assert(rows(op, corpus.repartition(5), saved.toInt) === base,
        s"$name on a corpus repartitioned to 5")
    }
  }
}
