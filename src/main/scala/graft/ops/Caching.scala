package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}

/** Explicit cache lifecycle for graft operators. Every persist lives in
  * the SQL cache manager (`Dataset.persist`) — never in raw RDD storage —
  * so session-level tooling (`spark.catalog.clearCache()`) can always
  * reclaim it. Three kinds of entry exist:
  *
  *   - SCOPED INTERIMS ([[Scope]], opened by [[scoped]]): state an
  *     operator or a micro-batch reads several times while it runs. The
  *     scope releases each one, newest first, when its body exits —
  *     normally or by a throw.
  *   - MATERIALIZED RESULTS ([[materialize]]): an eager result that must
  *     stay cached (iterative lineage would otherwise recompute a whole
  *     loop per action, or a chain stage its whole prefix). The returned
  *     frame is a flat leaf that is its own cache entry, so releasing the
  *     interims it was built from never re-plans it, its plan never nests
  *     a cached plan (a chain of nested `InMemoryRelation`s printed 3.27 MB
  *     on q186), and two equal results never share an entry. The caller
  *     releases it with [[release]]. Operators in this mode:
  *     [[Graph.connectedComponents]], [[Graph.pageRankInt]],
  *     [[Graph.triangleCount]], [[Graph.triangleCountIdOrdered]],
  *     [[Analytics.reachableParts]],
  *     [[graft.text.TextFeatures.tfidfEmbeddingsPortable]], the
  *     [[graft.multimodal.MediaDedup]] near-dup pair operators, and the
  *     [[graft.text.Refinery.refine]] stages after the gate and
  *     [[graft.text.Dedup]]'s exact survivors.
  *   - SHARED-SUBTREE persists: a lazily-returned result whose plan reads
  *     one aggregate from several branches persists that aggregate inside
  *     the operator (ReuseExchange does NOT merge the re-planned subtrees —
  *     measured on charBigramLogScore: 3 corpus scans without the persist).
  *     The entry fills on the result's first action and is reclaimed by the
  *     caller afterwards ([[releaseAll]] in the harnesses, or
  *     `spark.catalog.clearCache()`). Operators in this mode:
  *     [[graft.text.TextStats.charBigramLogScore]] (doc×bigram counts),
  *     [[graft.text.TextStats.splitTokenDrift]] (vocabulary counts),
  *     [[graft.text.TextStats.sourceJsDivergence]] (source×lang cells),
  *     [[graft.sim.Similarity.pqBuild]] (the PQ code table — FAISS's
  *     memory-resident layout; every ADC consumer re-reads it),
  *     [[graft.text.LangModel.lmScore]] (the bigram event stream — the
  *     model tables and the scoring stream both read it),
  *     [[graft.multimodal.MediaDedup.imageClusters]]/`audioClusters` (the
  *     fingerprint table — the pair stage and the label join-back both
  *     read it; unpersisted, every decode runs twice).
  *     PlanAuditSpec pins the text operators' corpus-scan counts.
  *     [[stage]] hands such a persist on as a flat leaf: the
  *     [[graft.text.Refinery.refine]] quality gate and [[graft.text.Dedup]]'s
  *     containment gram tables.
  */
object Caching {

  /** The frames one span persists, all released when the span exits, so
    * nothing the span made outlives it. A long-running stream opens one
    * per micro-batch (there is no harness [[releaseAll]] between them). */
  final class Scope private[Caching] {
    private val held = ArrayBuffer.empty[Dataset[_]]

    /** Persist `ds` until the span exits. */
    def persist[T](ds: Dataset[T]): Dataset[T] = hold(ds.persist())

    /** Release `ds` when the span exits: a result that is already cached
      * (e.g. [[graft.text.Dedup.clusterPairs]]). */
    def hold[T](ds: Dataset[T]): Dataset[T] = { held += ds; ds }

    // newest first: uncaching a frame re-plans the still-cached frames
    // built on it, so those go before their inputs
    private[Caching] def release(): Unit = held.reverseIterator.foreach(Caching.release)
  }

  /** Run `body` with a fresh [[Scope]], released in `finally`. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.release()
  }

  /** Compute `df` now into a cache entry of its own and return that entry
    * as a flat leaf: the handle [[release]] takes. Each call makes a
    * distinct entry, also for equal plans. */
  def materialize(df: DataFrame): DataFrame = {
    val leaf = GraftSqlBridge.flattenLineage(df).persist()
    GraftSqlBridge.fillCache(leaf)
    leaf
  }

  /** Persist `df` and return a flat leaf over the entry. Under AQE,
    * planning the leaf runs the stage and fills the cache at the call
    * (q182: 0 → 5 build jobs); with AQE off it stays lazy. `owner` gets
    * the persisted frame, the handle to [[release]]; the leaf is not.
    * Kept beside [[materialize]] where that measured worse: the refinery
    * gate, a narrow filter whose leaf fills in its first consumer's job
    * (materialized: one more build job on q169, q186, q187 and q208), and
    * the containment gram tables (materialized: the curation pass's
    * retained heap after q186 rose ~70 MB). */
  def stage(df: DataFrame, owner: Dataset[_] => Unit = _ => ()): DataFrame = {
    val persisted = df.persist()
    owner(persisted)
    GraftSqlBridge.flattenLineage(persisted)
  }

  /** Release the cache entry backing `df`. Safe on never-persisted frames
    * (no-op). */
  def release(df: Dataset[_]): Unit = df.unpersist(blocking = false)

  /** Session-wide reclaim: every SQL-cache entry AND every RDD-level
    * persistent block (e.g. from caller-managed GraphX interop via
    * [[Graph.toGraphX]]). Harness/bench hygiene between independent
    * queries — not for use inside operators. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
