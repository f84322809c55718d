package graft.cxc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.storage.StorageLevel

/** Serving layer (SURVEY §2.1 S10): the Spark mapping of the reference
  * dashboard's TTL-cached loaders
  * (/root/reference/dashboard/data_loader.py:48-114 — `@st.cache_data
  * (ttl=3600)` per view) as materialized-and-registered views refreshed
  * on schedule.
  *
  * Semantics mirrored from the reference:
  *  - a view read inside the TTL serves the cached materialization
  *    (no recompute, no re-scan);
  *  - the first read past the TTL swaps in a freshly built set;
  *  - `refresh()` is the manual invalidation hook (the dashboard's
  *    "clear cache" button).
  *
  * Scale note: "materialize" here is Spark caching + temp-view
  * registration — executors hold the report-sized views in memory
  * (MEMORY_AND_DISK, so an oversized view spills instead of OOMing).
  * Each frame is held once: a view the `CacheManager` already holds
  * (the master `CxcPipeline` caches) is not persisted again, and a view
  * that only selects columns of another served view (`reporte_cxc` of
  * the master) reads that view's cache instead of keeping a copy.
  * The clock is injectable so TTL behavior is unit-testable.
  */
class CxcServing(
    spark: SparkSession,
    build: () => Map[String, DataFrame],
    ttlSeconds: Long = 3600L,
    clock: () => Long = () => System.currentTimeMillis()) {

  private var current: Map[String, DataFrame] = Map.empty
  private var lastRefreshMs: Long = Long.MinValue
  private var buildCount: Int = 0

  /** Number of times the view set has been (re)built — for tests and
    * freshness monitoring.
    */
  def builds: Int = synchronized(buildCount)

  /** True when `df` only selects columns of another frame in `frames`:
    * its plan is a projection of plain attributes over that frame's
    * plan, so once that frame is cached the `CacheManager` serves `df`
    * from the same in-memory copy.
    */
  private def projectsAnother(df: DataFrame, frames: Iterable[DataFrame]): Boolean =
    df.queryExecution.analyzed match {
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) =>
        frames.exists(o => (o ne df) && o.queryExecution.analyzed.sameResult(child))
      case _ => false
    }

  /** Materialize a fresh view set: unpersist the previous generation,
    * cache + register the new one under its view names.
    */
  def refresh(): Unit = synchronized {
    current.valuesIterator.foreach(_.unpersist(blocking = false))
    val views = build()
    views.valuesIterator
      .filter(df => !projectsAnother(df, views.values) && df.storageLevel == StorageLevel.NONE)
      .foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    current = views
    buildCount += 1
    lastRefreshMs = clock()
  }

  private def maybeRefresh(): Unit = synchronized {
    if (lastRefreshMs == Long.MinValue || clock() - lastRefreshMs >= ttlSeconds * 1000L)
      refresh()
  }

  /** Serve one view, refreshing the whole set first if the TTL lapsed
    * (the loaders share one freshness horizon, like the dashboard's
    * per-session cache).
    */
  def view(name: String): DataFrame = synchronized {
    maybeRefresh()
    current(name)
  }

  def viewNames: Set[String] = synchronized(current.keySet)
}
