package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized aggregate over a lake table — the
  * view-maintenance pattern that makes dashboard refresh O(delta) instead
  * of O(history): the view table stores additive partials (count + exact
  * cents sum per key); `refresh` reads ONLY the base commits appended since
  * the last refresh (via [[LakeTable.readChanges]]), aggregates the delta,
  * and folds it into the dimension-sized view. A non-append commit in the
  * range (overwrite/compact rewrites history) is detected and triggers a
  * full rebuild — correctness never depends on the fast path applying.
  *
  * The applied base version is tracked in a sidecar next to the view table;
  * refresh is idempotent (same version -> no-op). The sidecar also records
  * the VIEW table version the fold produced: the view write and the sidecar
  * write are two non-atomic steps, so a crash between them would leave a
  * stale sidecar pointing at an already-folded change range — re-folding it
  * would silently double-count. Before taking the incremental path, refresh
  * checks that the sidecar's view version matches the live view table; any
  * disagreement (crash window, or a foreign write to the view) forces a full
  * rebuild, which is always correct.
  */
object Materialize {

  private def metaPath(lake: LakeTable, view: String) =
    Paths.get(lake.warehouse, s"$view.mat.json")

  /** (applied base version, view table version that write produced).
    * ANY unreadable/old-format sidecar degrades to None — sidecar distrust
    * must land on the full-rebuild path, never on a crash (a pre-upgrade
    * sidecar without `viewVersion` would otherwise throw on extract and
    * wedge every refresh of the view). */
  private def appliedState(lake: LakeTable, view: String): Option[(Long, Long)] =
    if (!Files.exists(metaPath(lake, view))) None
    else scala.util.Try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      val jv = JsonMethods.parse(
        new String(Files.readAllBytes(metaPath(lake, view)), "UTF-8"))
      ((jv \ "appliedVersion").extract[Long],
        (jv \ "viewVersion").extract[Long])
    }.toOption

  // published atomically: a torn sidecar would parse-fail forever; REPLACE
  // is safe here (single refresher per view is the documented model, and
  // even a racing replace only ever triggers a spurious full rebuild)
  private def writeApplied(lake: LakeTable, view: String, v: Long,
                           viewVersion: Long): Unit =
    LakeTable.publish(metaPath(lake, view),
      s"""{"appliedVersion":$v,"viewVersion":$viewVersion}""".getBytes("UTF-8"),
      createOnly = false)

  private def aggregate(rows: DataFrame, keys: Seq[String],
                        valueCol: String): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      sum(floor(col(valueCol) * lit(100.0) + lit(0.5)).cast("long")).as("cents"))

  /** The generic incremental-maintenance skeleton shared by every view
    * flavor: `agg` turns base rows into the view's partial representation,
    * `fold` merges the existing view with a delta's partials. All the
    * crash-safety/idempotence/rebuild-on-rewrite logic lives here once. */
  private def refreshWith(lake: LakeTable, base: String, view: String)
                         (agg: DataFrame => DataFrame)
                         (fold: (DataFrame, DataFrame) => DataFrame): Long = {
    val latest = lake.head(base).version
    def fullRebuild(): Unit = {
      val c = lake.write(agg(lake.read(base)), view, "overwrite")
      writeApplied(lake, view, latest, c.version)
    }
    appliedState(lake, view) match {
      case Some((_, w)) if !lake.latestVersion(view).contains(w) =>
        // sidecar does not describe the live view (crash between view write
        // and sidecar write, or a foreign view write): incremental folding
        // could double-count the last delta — rebuild from the base
        fullRebuild()
      case Some((v, _)) if v == latest => () // idempotent no-op
      case Some((v, _)) =>
        try {
          val delta = agg(lake.readChanges(base, v))
          val c = lake.write(fold(lake.read(view), delta), view, "overwrite")
          writeApplied(lake, view, latest, c.version)
        } catch {
          // non-append commits in range: incremental semantics undefined
          case _: IllegalArgumentException => fullRebuild()
        }
      case None => fullRebuild()
    }
    latest
  }

  /** Create or incrementally refresh `view` = sum/count of `base` grouped
    * by `keys`. Returns the base version the view now reflects. */
  def refresh(lake: LakeTable, base: String, view: String,
              keys: Seq[String], valueCol: String): Long =
    refreshWith(lake, base, view)(rows => aggregate(rows, keys, valueCol)) {
      (viewRows, delta) =>
        viewRows.unionByName(delta)
          .groupBy(keys.map(col): _*)
          .agg(sum(col("n_rows")).as("n_rows"), sum(col("cents")).as("cents"))
    }

  /** Create or incrementally refresh an EXACT distinct-count view: the view
    * stores (keys..., bucket, bitmap) partials over `distinctCol` (the
    * layer behind [[graft.ops.Analytics.bitmapDistinct]]); a delta folds in
    * with `bitmap_or_agg` — set union, so the count stays exact no matter
    * how appends interleave. COUNT(DISTINCT) is the textbook
    * "not incrementally maintainable" aggregate; switching the partial
    * representation to bitmaps makes it additive. Refresh cost is
    * O(delta + touched buckets), never O(history). */
  def refreshDistinct(lake: LakeTable, base: String, view: String,
                      keys: Seq[String], distinctCol: String): Long = {
    val grp = (keys :+ "bkt").map(col)
    refreshWith(lake, base, view) { rows =>
      rows.select(keys.map(col) :+
          expr(s"bitmap_bucket_number($distinctCol)").as("bkt") :+
          expr(s"bitmap_bit_position($distinctCol)").as("pos"): _*)
        .groupBy(grp: _*)
        .agg(expr("bitmap_construct_agg(pos)").as("bm"))
    } { (viewRows, delta) =>
      viewRows.unionByName(delta)
        .groupBy(grp: _*)
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
    }
  }

  /** Read the distinct-count view: per-key exact distinct = Σ bucket
    * popcounts (buckets partition the key space, so the counts add). */
  def readDistinctView(lake: LakeTable, view: String,
                       keys: Seq[String]): DataFrame =
    lake.read(view)
      .select(keys.map(col) :+ expr("bitmap_count(bm)").as("c"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("c")).as("n_distinct"))

  /** Create or incrementally refresh the corpus-novelty first-occurrence
    * view: `view` = (g, first_doc) — the min doc_id ever to contain each
    * distinct gram hash of the `base` documents table. min is additive, so
    * a delta folds in with another min and per-ingest novelty telemetry
    * becomes O(delta): refresh reads only the appended commits
    * ([[LakeTable.readChanges]]), and
    * [[graft.text.Dedup.noveltyAgainst]] over the view equals the full
    * [[graft.text.Dedup.gramNovelty]] recompute (spec-pinned). The view is
    * vocabulary-sized — the same footprint the full recompute's
    * min-per-gram aggregate materializes every run, now paid once. */
  def refreshNovelty(lake: LakeTable, base: String, view: String,
                     shingleSize: Int = 3): Long =
    refreshWith(lake, base, view)(rows =>
      graft.text.Dedup.docGrams(rows, shingleSize)
        .groupBy("g").agg(min("doc_id").as("first_doc"))) {
      (viewRows, delta) =>
        viewRows.unionByName(delta)
          .groupBy("g").agg(min("first_doc").as("first_doc"))
    }

  /** Per-doc novelty of `docs` against the [[refreshNovelty]] view — the
    * O(docs + view join) read path (telemetry for an ingest batch without
    * rescanning the corpus). Docs whose grams are all absent from the view
    * (not yet refreshed over them) drop out of the inner join — refresh
    * first, then read. */
  def noveltyFromView(lake: LakeTable, view: String, docs: DataFrame,
                      shingleSize: Int = 3): DataFrame =
    graft.text.Dedup.noveltyAgainst(
      graft.text.Dedup.docGrams(docs, shingleSize), lake.read(view))

  /** The view with a readable money column (exact cents -> dollars). */
  /** Token-distribution drift between two COMMITTED VERSIONS of a lake
    * documents table — "what did the last N commits change about the
    * corpus": time-travel both snapshots and run the exact-micronat JS
    * drift ([[graft.text.TextStats.tokenDriftBetween]], q165's
    * arithmetic). One governance row: (n_a_tokens, n_b_tokens, n_vocab,
    * js_nats); 0 = the appends changed nothing distributionally, ln 2 =
    * the new corpus is token-disjoint from the old. */
  def versionDrift(lake: LakeTable, table: String, v1: Long,
                   v2: Long): DataFrame =
    graft.text.TextStats.tokenDriftBetween(
      lake.read(table, Some(v1)), lake.read(table, Some(v2)))

  def readView(lake: LakeTable, view: String, keys: Seq[String]): DataFrame =
    lake.read(view).select(
      (keys.map(col) :+ col("n_rows") :+
        (col("cents").cast("double") / lit(100.0)).as("total")): _*)
}
