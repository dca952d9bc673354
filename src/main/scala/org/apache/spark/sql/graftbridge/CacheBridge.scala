package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.execution.CollectMetricsExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Bridge into Spark's `private[sql]` cache manager and Dataset factory:
  * a persisted frame whose logical plan is the cached relation itself.
  *
  * A persisted frame keeps its full lineage as its logical plan; the
  * cache is substituted only after analysis. Every frame derived from it
  * is therefore re-analysed over that whole lineage — for the HL7 parse
  * channels a deep tree of array lambdas — although the cached relation
  * is all that will ever execute. The frame returned here has ONE leaf,
  * the `InMemoryRelation`, so frames built on top of it analyse over a
  * one-node plan and execute exactly as they would over the persisted
  * original.
  */
object CacheBridge {

  /** Persist `df` (memory and disk) and return a frame over its cached
    * relation, with `df`'s columns. Release the cache with
    * `df.unpersist()`; the returned frame cannot do it (its plan no
    * longer matches the cached one).
    *
    * The returned frame, and every frame built from it, must not be
    * used after that `unpersist`: its leaf still holds the cache builder,
    * and running it again would silently rebuild a cache that no caller
    * tracks or releases.
    */
  def pinned(df: DataFrame): DataFrame = {
    val ds = df.persist(StorageLevel.MEMORY_AND_DISK)
      .asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    // The leaf carries no output ordering (Spark uses it only to skip a
    // sort). Unlike a cache substituted after analysis, this relation
    // sits in ANALYSED plans, where a frame that meets itself (a union
    // with its own empty slice) gets a `newInstance` copy — which renews
    // the output but keeps the ordering on the old attributes, so every
    // later cache lookup fails to canonicalise the plan.
    session.sharedState.cacheManager.lookupCachedData(ds) match {
      case Some(cached) =>
        val rel = cached.cachedRepresentation
        classic.Dataset.ofRows(session, InMemoryRelation(
          ds.logicalPlan.output, rel.cacheBuilder, Nil, rel.statsOfPlanToCache))
      case None => df
    }
  }

  /** The metrics `Dataset.observe` collected in the plan a [[pinned]]
    * leaf caches, by observation name, once that cache is built: the
    * action that filled it collected them, so reading them runs nothing.
    * None while the cache is unbuilt. (An `Observation` cannot report
    * them: it completes only for a node in the action's own logical
    * plan, and a cached plan sits below the `InMemoryRelation` leaf.)
    */
  def observed(pinned: DataFrame): Option[Map[String, Row]] =
    pinned.asInstanceOf[classic.Dataset[_]].logicalPlan.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder
    }.filter(_.isCachedColumnBuffersLoaded)
      .map(b => CollectMetricsExec.collect(b.cachedPlan))
}
