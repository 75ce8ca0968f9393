package graft

import org.apache.spark.sql.functions._

import graft.functions.HashSets
import graft.text.{Dedup, TextStats}

/** Pins the hashed-set verify expressions to the string-domain spellings
  * they replace: per-gram hash values equal xxhash64 of the gram string,
  * set sizes and intersection counts equal the array_distinct /
  * array_intersect string forms, and the near-dup pair results are
  * row-identical either way. */
class HashSetSpec extends SparkSpec {

  private lazy val docs =
    graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")

  test("shingle hash set == sorted distinct xxhash64 of the string shingles") {
    val toks = TextStats.tokensN(TextStats.normalize(col("text")))
    val both = docs.select(
      HashSets.shingleHashSetCol(toks, 3).as("a"),
      array_sort(array_distinct(
        transform(TextStats.shinglesOf(toks, 3), s => xxhash64(s)))).as("b"))
    assert(both.filter(not(col("a") <=> col("b"))).count() === 0)
  }

  test("shingle hash set: short/empty docs mirror shinglesOf's single gram") {
    import spark.implicits._
    val edge = Seq((1L, "one two"), (2L, ""), (3L, "solo"),
      (4L, "a b c d e")).toDF("doc_id", "text")
    val toks = TextStats.tokensN(TextStats.normalize(col("text")))
    val both = edge.select(col("doc_id"),
      HashSets.shingleHashSetCol(toks, 3).as("a"),
      array_sort(array_distinct(
        transform(TextStats.shinglesOf(toks, 3), s => xxhash64(s)))).as("b"))
    assert(both.filter(not(col("a") <=> col("b"))).count() === 0)
  }

  test("hashed token set == sorted distinct xxhash64 of the tokens") {
    val toks = TextStats.tokensN(TextStats.normalize(col("text")))
    val both = docs.select(
      HashSets.hashedTokenSetCol(toks).as("a"),
      array_sort(array_distinct(transform(toks, t => xxhash64(t)))).as("b"))
    assert(both.filter(not(col("a") <=> col("b"))).count() === 0)
  }

  test("sorted intersect count == size(array_intersect) on hashed sets") {
    val toks = TextStats.tokensN(TextStats.normalize(col("text")))
    val sets = docs.select(col("doc_id"),
      HashSets.shingleHashSetCol(toks, 3).as("s"))
    val pairs = sets.as("x").crossJoin(sets.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id") && col("x.doc_id") < 20)
      .select(
        HashSets.sortedIntersectCountCol(col("x.s"), col("y.s")).as("a"),
        size(array_intersect(col("x.s"), col("y.s"))).cast("long").as("b"))
    assert(pairs.filter(col("a") =!= col("b")).count() === 0)
  }

  test("near-dup pairs identical to the string-verify spelling") {
    // string-domain reference, built inline exactly as r16 shipped it
    val pairs = Dedup.minhashNearDupsShingle(docs, 32, 16, 3, 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9).as("j"))
    val sh = Dedup.shingleSets(docs, 3)
    val ref = sh.as("x").crossJoin(sh.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        Dedup.jaccard(col("x.s"), col("y.s")).as("jac"))
      .filter(col("jac") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 9).as("j"))
    assert(pairs.exceptAll(ref).count() + ref.exceptAll(pairs).count() === 0)
  }

  test("docGrams rows == distinct xxhash64 of the gram-string stream") {
    import spark.implicits._
    // null, empty, blank, shorter-than-n and repeated-gram texts
    val edge = Seq[(Long, String)]((-1L, null), (-2L, ""), (-3L, "  "),
      (-4L, "one two"), (-5L, "a b c a b c a b c")).toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").unionByName(edge)
    // the gram-string spelling docGrams replaced
    val ref = TextStats.gramStream(all, 3)
      .select(col("doc_id"), xxhash64(col("gram")).as("g")).distinct()
    val grams = Dedup.docGrams(all, 3)
    assert(grams.count() === ref.count())
    assert(grams.exceptAll(ref).count() + ref.exceptAll(grams).count() === 0)
    assert(grams.filter(col("doc_id") < 0).count() === 1 + 1 + 1 + 1 + 3)
  }
}
