package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.functions._

import graft.multimodal.MediaDedup
import graft.ops.{Analytics, Caching, Graph}
import graft.text.TextFeatures

/** The cache lifecycle of the operators that return a materialized result
  * ([[Caching.materialize]]): the result is its own cache entry, so
  * [[Caching.release]] reclaims everything the call made and nothing
  * another result still holds. */
class CachingSpec extends SparkSpec {

  private lazy val docs =
    graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")

  private def cacheManager = spark.sharedState.cacheManager

  private def pairs = df(Seq(R5Pair(1, 2), R5Pair(2, 3), R5Pair(10, 11)))

  private def edges =
    df(Seq(R5Pair(1, 2), R5Pair(2, 3), R5Pair(1, 3), R5Pair(3, 4)))
      .toDF("part_a", "part_b")

  test("releasing one connectedComponents result keeps an equal result's " +
    "entry and rows") {
    Caching.releaseAll(spark)
    // the small-graph fast path builds both results from equal local
    // relations: two equal plans
    val a = Graph.connectedComponents(pairs, "probe_id", "neighbor_id")
    val b = Graph.connectedComponents(pairs, "probe_id", "neighbor_id")
    val want = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    assert(a.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet === want)
    Caching.release(a)
    assert(cacheManager.lookupCachedData(b.asInstanceOf[classic.Dataset[_]]).isDefined,
      "releasing one result dropped the other's cache entry")
    assert(b.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet === want)
    Caching.release(b)
    assert(cacheManager.isEmpty)
  }

  private val ops: Seq[(String, () => DataFrame)] = Seq(
    "tfidfEmbeddingsPortable" -> (() =>
      TextFeatures.tfidfEmbeddingsPortable(docs.filter(col("doc_id") < 60), 64)),
    "imageNearDups" -> (() => MediaDedup.imageNearDups(
      MediaDedup.syntheticNearDupImages(docs.filter(col("doc_id") < 40)))),
    "audioNearDups" -> (() => MediaDedup.audioNearDups(
      MediaDedup.syntheticNearDupAudio(docs.filter(col("doc_id") < 40)))),
    "imageNearDupsOrientationInvariant" -> (() =>
      MediaDedup.imageNearDupsOrientationInvariant(
        MediaDedup.syntheticRotatedImages(docs.filter(col("doc_id") < 16)))),
    "connectedComponents" -> (() =>
      Graph.connectedComponents(pairs, "probe_id", "neighbor_id")),
    "pageRankInt" -> (() => Graph.pageRankInt(pairs, "probe_id", "neighbor_id")),
    "triangleCount" -> (() => Graph.triangleCount(edges)),
    "triangleCountIdOrdered" -> (() => Graph.triangleCountIdOrdered(edges)),
    "reachableParts" -> (() => Analytics.reachableParts(spark,
      pairs.toDF("part_a", "part_b"), maxHops = 2)))

  test("Caching.release reclaims every cache entry and RDD block of each " +
    "materialized operator result") {
    val leaks = ops.flatMap { case (name, op) =>
      Caching.releaseAll(spark)
      val out = op()
      assert(out.collect().nonEmpty, s"$name: empty fixture result")
      Caching.release(out)
      Seq(s"$name: a SQL cache entry" -> !cacheManager.isEmpty,
          s"$name: an RDD-level block" -> spark.sparkContext.getPersistentRDDs.nonEmpty)
        .collect { case (leak, true) => leak }
    }
    assert(leaks.isEmpty, leaks.mkString("outlived release: ", "; ", ""))
  }

  test("persist levels, local checkpoints and unpersists are spelled only " +
    "in graft.ops.Caching") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no $root)")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val allowed = new java.io.File(root, "graft/ops/Caching.scala").getCanonicalFile
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getCanonicalFile != allowed
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      token <- Seq("localCheckpoint(", "StorageLevel", ".unpersist(")
      if line.contains(token)
    } yield s"${f.getPath}:${i + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
