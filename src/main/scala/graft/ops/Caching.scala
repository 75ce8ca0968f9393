package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}

/** Explicit cache lifecycle for graft operators.
  *
  * A few operators are iterative or multi-consumer and must materialize
  * intermediate state ([[Graph.connectedComponents]], [[Graph.triangleCount]],
  * [[Analytics.reachableParts]]). Their contract is uniform:
  *
  *   - every persist they create lives in the SQL cache manager
  *     (`Dataset.persist`) — never in raw RDD storage — so session-level
  *     tooling (`spark.catalog.clearCache()`) can always reclaim it;
  *   - all INTERMEDIATE persists are released inside the operator as soon as
  *     their successor materializes;
  *   - when the RESULT itself must stay cached (iterative lineage would
  *     otherwise recompute the whole loop per action), the returned Dataset
  *     is bound directly to that cache entry, and the caller releases it
  *     with [[release]] when done — no hidden state, no footnotes;
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
  *   - STAGE-LEAF persists ([[stage]]): each stage of a chain hands its
  *     persisted result on as a flat leaf, since an `InMemoryRelation`
  *     prints its whole cached plan and a chain of them nests (q186 printed
  *     3.27 MB executed). Sites: the [[graft.text.Refinery.refine]] stages,
  *     [[graft.text.Dedup]]'s exact survivors and containment gram tables.
  *     Release the PERSISTED frame (`stage`'s `owner`), never the leaf.
  */
object Caching {

  /** Persist `df` and return a flat leaf over the entry. Under AQE,
    * planning the leaf runs the stage and fills the cache at the call
    * (q182: 0 → 5 build jobs); with AQE off it stays lazy. `owner` gets
    * the persisted frame, the handle to [[release]]. */
  def stage(df: DataFrame, owner: Dataset[_] => Unit = _ => ()): DataFrame = {
    val persisted = df.persist()
    owner(persisted)
    GraftSqlBridge.flattenLineage(persisted)
  }

  /** Release the cache entry backing an operator result. The operators
    * documented above return Datasets that ARE their cache entry, so this
    * reclaims everything the call created. Safe on never-persisted frames
    * (no-op). */
  def release(df: Dataset[_]): Unit = df.unpersist(blocking = false)

  /** Session-wide reclaim: every SQL-cache entry AND every RDD-level
    * persistent block (e.g. from caller-managed GraphX interop via
    * [[Graph.toGraphX]]). Harness/bench hygiene between independent
    * queries — not for use inside operators.
    *
    * Locally-checkpointed results (the eager-materialization lifecycle of
    * `bandedNearDups` / `tfidfEmbeddingsPortable`) are
    * RDD-level blocks too and are released here. That is safe by
    * construction: the harness calls this only BETWEEN queries, after the
    * query's result was fully consumed (parquet written / counted), and a
    * released local checkpoint cannot be silently re-evaluated — its
    * lineage is truncated, so any late consumer fails loudly. The
    * harnesses suppress Spark's per-RDD release WARN on that basis. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
