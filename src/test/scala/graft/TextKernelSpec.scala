package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{Dedup, TextStats}

/** Pins the native text front end to the Spark spellings it replaced:
  * `normalize_text` to `regexp_replace(lower(trim(t)), "\\s+", " ")` byte
  * for byte, and `minhash_signature` to the gram stream's per-seed `min`
  * aggregate. */
class TextKernelSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  // ASCII letters, all six Java `\s` characters, separators Java's `\s`
  // does not match (0x1C-0x1F, NBSP, U+2028), case-mapping edge cases
  // (dotted I, capital sharp s, sigma in final position, combining marks)
  // and surrogate pairs (one with a case mapping: Deseret capital long I)
  private val piece = Gen.oneOf(
    Gen.alphaStr.map(_.take(6)), Gen.alphaUpperStr.map(_.take(4)),
    Gen.oneOf(" ", "  ", "\t", "\n", "\u000B", "\f", "\r", " \t\r\n "),
    Gen.oneOf("\u001C", "\u001D", "\u001E", "\u001F", "\u00A0", "\u2028"),
    Gen.oneOf("İ", "ẞ", "ΟΔΟΣ", "Σ", "é", "Ä", "𐐀", "😀"))

  // UTF-8 bytes of the pieces; some cases splice in invalid sequences (a
  // lone 0xFF, a truncated lead byte, an encoded surrogate, an overlong
  // NUL), which only a binary-to-string cast can carry into a string column
  private val invalid = Gen.oneOf(
    Array(0xff.toByte), Array(0xc3.toByte), Array(0xed, 0xa0, 0x80).map(_.toByte),
    Array(0xc0, 0x80).map(_.toByte))
  private val bytesGen: Gen[Option[Array[Byte]]] = Gen.frequency(
    (1, Gen.const(None)),
    (1, Gen.oneOf("", " ", "    ", "\tlead tab", "\t").map(s => Some(s.getBytes("UTF-8")))),
    (8, Gen.listOf(piece).map(p => Some(p.mkString.getBytes("UTF-8")))),
    (2, Gen.zip(Gen.listOf(piece), invalid, Gen.listOf(piece)).map { case (a, b, c) =>
      Some(a.mkString.getBytes("UTF-8") ++ b ++ c.mkString.getBytes("UTF-8")) }))

  test("property: normalize_text is byte-equal to regexp_replace(lower(trim(text)))") {
    import spark.implicits._
    val cases = samples(bytesGen, 1200).zipWithIndex.map { case (b, i) => (i.toLong, b) }
    val key = "spark.sql.icu.caseMappings.enabled"
    val saved = spark.conf.getOption(key)
    try for (icu <- Seq("true", "false")) {
      spark.conf.set(key, icu)
      val text = col("b").cast("string")
      val d = cases.toDF("i", "b")
      // the local frame is evaluated interpreted (ConvertToLocalRelation);
      // the repartitioned one runs the generated code
      for ((frame, path) <- Seq(d -> "interpreted", d.repartition(3) -> "codegen")) {
        val got = frame.select(col("i"),
            TextStats.normalize(text).cast("binary").as("native"),
            regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary").as("spark"))
          .collect()
        assert(got.length === cases.length)
        got.foreach { r =>
          val native = Option(r.getAs[Array[Byte]]("native")).map(_.toSeq)
          val want = Option(r.getAs[Array[Byte]]("spark")).map(_.toSeq)
          assert(native === want, s"case ${r.getLong(0)} icu=$icu $path")
        }
      }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The spelling `minhash_signature` replaced: one gram row per position,
    * then one HashAggregate of `numPerms` seeded mins per doc. */
  private def gramStreamSignatures(docs: DataFrame, numPerms: Int, n: Int): DataFrame = {
    val mins = (0 until numPerms).map(p => min(xxhash64(lit(p), col("h"))).as(s"m$p"))
    TextStats.gramStream(docs, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("h"))
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numPerms).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** [[Dedup.lshCandidatePairs]]'s banding over given signatures. */
  private def bandPairs(sig: DataFrame, numPerms: Int, bands: Int): Set[(Long, Long)] = {
    val buckets = sig.select(col("doc_id"),
        explode(Dedup.lshBands(col("sig"), bands, numPerms / bands)).as("b"))
    buckets.as("x").join(buckets.as("y"),
        col("x.b") === col("y.b") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash_signature equals the gram-stream min aggregate, and LSH pairs match") {
    import spark.implicits._
    val edge = Seq[(Long, String)]((-1L, null), (-2L, ""), (-3L, "   "), (-4L, "solo"),
      (-5L, "Two Words"), (-6L, "Größe İstanbul ΟΔΟΣ straße 𐐀 x"),
      (-7L, "\tTwo\n words "), (-8L, "two words")).toDF("doc_id", "text")
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").unionByName(edge)
    for (numPerms <- Seq(32, 128); n <- Seq(3, 5)) {
      val native = Dedup.minhashSignatures(docs, numPerms, n)
      val ref = gramStreamSignatures(docs, numPerms, n)
      val diff = native.as("a").join(ref.as("b"), Seq("doc_id"), "full_outer")
        .filter(not(col("a.sig") <=> col("b.sig")))
      assert(diff.count() === 0, s"numPerms=$numPerms n=$n")
      val bands = numPerms / 4
      val pairs = Dedup.lshCandidatePairs(docs, numPerms, bands, n)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === bandPairs(ref, numPerms, bands), s"numPerms=$numPerms n=$n")
      assert(pairs.contains((-8L, -7L)), "equal normalized texts must pair")
    }
  }
}
