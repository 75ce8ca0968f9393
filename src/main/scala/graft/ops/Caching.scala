package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}

/** Explicit cache lifecycle for graft operators. Every persist lives in
  * the SQL cache manager (`Dataset.persist`) — never in raw RDD storage —
  * so session-level tooling (`spark.catalog.clearCache()`) can always
  * reclaim it, and this file is the only place that spells one. Every
  * entry is made by [[materialize]]: filled by one job at the call, and
  * handed on as a flat leaf that is its own entry (its plan never nests a
  * cached plan — a chain of nested `InMemoryRelation`s printed 3.27 MB on
  * q186), so releasing one entry never re-plans or drops another, also
  * for equal plans. Two kinds exist:
  *
  *   - SCOPED INTERIMS ([[Scope.materialize]], in a [[scoped]] body): state
  *     an operator or a micro-batch reads several times while it runs. The
  *     scope releases each one when its body exits, normally or by a
  *     throw. An operator that returns a frame built on its interims
  *     materializes that result before the scope exits.
  *   - MATERIALIZED RESULTS ([[materialize]]): an eager result that must
  *     stay cached (iterative lineage would otherwise recompute a whole
  *     loop per action, or a chain stage its whole prefix). The caller
  *     releases it with [[release]]; a query row's caller is the harness,
  *     whose [[releaseAll]] runs between rows. Operators in this mode: the
  *     [[Graph]] operators, [[Analytics.reachableParts]], the
  *     [[graft.text.TextStats]], [[graft.text.LangModel]],
  *     [[graft.text.QualityClassifier]] and [[graft.text.Dedup]] scorers
  *     and audits whose plans read one aggregate from several branches,
  *     [[graft.text.TextFeatures]]' `tfidfEmbeddingsPortable` and
  *     `dsirWeights`, [[graft.sim.Similarity.pqBuild]]'s code table, the
  *     [[graft.multimodal.MediaDedup]] near-dup and cluster operators, and
  *     the [[graft.text.Refinery.refine]] stages. Two scorers whose
  *     returned plan PlanAuditSpec reads,
  *     [[graft.text.TextStats.charBigramLogScore]] and
  *     [[graft.text.QualityClassifier.classifierScore]], return a lazy
  *     frame over the materialized corpus projection they read twice; the
  *     harness reclaims that entry. PlanAuditSpec pins the text operators'
  *     corpus-scan counts.
  *
  * The one exception is [[stage]], kept at its two measured sites: the
  * [[graft.text.Refinery.refine]] quality gate and [[graft.text.Dedup]]'s
  * containment gram tables.
  */
object Caching {

  /** The frames one span persists, all released when the span exits, so
    * nothing the span made outlives it. A long-running stream opens one
    * per micro-batch (there is no harness [[releaseAll]] between them). */
  final class Scope private[Caching] {
    private val held = ArrayBuffer.empty[Dataset[_]]

    /** [[Caching.materialize]] `ds` into an entry released when the span
      * exits. */
    def materialize[T](ds: Dataset[T]): Dataset[T] = hold(Caching.materialize(ds))

    /** Release `ds` when the span exits: a result that is already cached
      * (e.g. [[graft.text.Dedup.clusterPairs]]). */
    def hold[T](ds: Dataset[T]): Dataset[T] = { held += ds; ds }

    private[Caching] def release(): Unit = held.foreach(Caching.release)
  }

  /** Run `body` with a fresh [[Scope]], released in `finally`. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.release()
  }

  /** Compute `ds` now, in one job, into a cache entry of its own and return
    * that entry as a flat leaf: the handle [[release]] takes. Each call
    * makes a distinct entry, also for equal plans. */
  def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val leaf = GraftSqlBridge.flattenLineage(ds.toDF()).persist()
    GraftSqlBridge.fillCache(leaf): Unit
    leaf.as(ds.encoder)
  }

  /** Persist `df` and return a flat leaf over the entry. Under AQE,
    * planning the leaf runs the stage and fills the cache at the call
    * (q182: 0 → 5 build jobs); with AQE off it stays lazy. `owner` gets
    * the persisted frame, the handle to [[release]]; the leaf is not.
    * Kept beside [[materialize]] where that measured worse: the refinery
    * gate, a narrow filter whose leaf fills in its first consumer's job
    * (materialized: one more build job on q169, q186, q187 and q208), and
    * the containment gram tables (materialized: one more build job on
    * q182, q185 and q186, curation heap peak 91 → 103 MB; the ~70 MB once
    * measured was a 64 MiB Tungsten page, 1 MiB since build.sbt pins it). */
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
