package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.functions._

import graft.multimodal.MediaDedup
import graft.ops.{Analytics, Caching, Graph}
import graft.text.TextFeatures

/** The cache lifecycle: every entry is made by [[Caching.materialize]],
  * filled at the call and its own entry, so [[Caching.release]] (or a
  * scope's exit) reclaims everything the call made and nothing another
  * result or scope still holds. */
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
    assert(entry(b).isDefined, "releasing one result dropped the other's cache entry")
    assert(b.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet === want)
    Caching.release(b)
    assert(cacheManager.isEmpty)
  }

  private def entry(ds: org.apache.spark.sql.Dataset[_]) =
    cacheManager.lookupCachedData(ds.asInstanceOf[classic.Dataset[_]])

  test("two live scopes that materialize equal plans each keep their own " +
    "entry") {
    Caching.releaseAll(spark)
    def plan = pairs.filter(col("probe_id") > 1)
    val want = Set(2L -> 3L, 10L -> 11L)
    def rows(ds: DataFrame) = ds.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    Caching.scoped { outer =>
      val kept = outer.materialize(plan)
      Caching.scoped(inner => assert(rows(inner.materialize(plan)) === want))
      assert(entry(kept).isDefined,
        "the inner scope's exit dropped the outer scope's entry")
      assert(rows(kept) === want)
    }
    assert(cacheManager.isEmpty)
  }

  test("Scope.materialize returns with its entry already filled") {
    Caching.releaseAll(spark)
    Caching.scoped { scope =>
      val ds = scope.materialize(pairs.filter(col("probe_id") > 1))
      assert(entry(ds).exists(_.cachedRepresentation.cacheBuilder
        .isCachedColumnBuffersLoaded), "the entry was not filled at the call")
    }
    assert(cacheManager.isEmpty)
  }

  test("q196, whose against-the-lake stage reads one interim three times " +
    "in one job, runs") {
    // left lazily persisted, that interim (`notExact`) had its lineage run
    // twice in one task of that job, which failed (NPE "inMemSorter is
    // null" in UnsafeExternalSorter). Smaller frames read three times under
    // AQE with a sort did not fail, so the row itself is pinned at the
    // scale that failed
    Caching.releaseAll(spark)
    try assert(SparkEntry.queries("q196_stream_ingest_twin")(
      spark, "/root/testdata/sf0.01").collect().nonEmpty)
    finally Caching.releaseAll(spark)
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
      token <- Seq("localCheckpoint(", "StorageLevel", ".unpersist(", ".persist(",
        ".cache()")
      if line.contains(token)
    } yield s"${f.getPath}:${i + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
