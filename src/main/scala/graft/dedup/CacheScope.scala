package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Scoped tracking for the DataFrames this library persists ON BEHALF OF a
  * caller (the shingle-set / signature prep frames in [[MinHashLSH]], the
  * edge frame in [[Clusters.connectedComponents]], the views of
  * [[graft.pipeline.ConsumeSqlPipeline]], the CDC stream and output of
  * [[graft.pipeline.ConsumePipeline.compose]]): their lifecycle is
  * caller-owned because the results are lazy — the caches must outlive the
  * result's materialization — so a LOOPING caller (the streaming near-dup
  * ingest gate runs one gate invocation per trigger, forever) has to
  * release them between invocations.
  *
  * The pre-round-11 contract was "call `spark.catalog.clearCache()`
  * between invocations", which evicts EVERY cache in the session — on a
  * shared SparkSession that silently degrades co-resident workloads, not
  * just the gate's own prep frames (round-10 advice). This scope releases
  * exactly the frames the wrapped call cached and nothing else:
  *
  * {{{
  * CacheScope.withScope {          // trigger body
  *   val novel = MinHashLSH.dropNearSeen(...)   // caches prep frames
  *   ... materialize + write ...
  * }                               // ONLY those frames unpersisted here
  * }}}
  *
  * A plan the caller had already cached stays the caller's: [[cache]]
  * reads it as it is and registers nothing, so no scope releases it.
  *
  * Registration piggybacks on plan CONSTRUCTION (the `.cache()` calls run
  * synchronously inside the library functions, never at materialization
  * time), so a ThreadLocal scope is exact for any single-threaded caller —
  * which foreachBatch trigger bodies are. With no scope active,
  * [[cache]] degrades to a plain `.cache()` and the documented
  * caller-clears contract stands unchanged.
  */
object CacheScope {

  private val active =
    new ThreadLocal[scala.collection.mutable.Buffer[() => Unit]]()

  /** `df.cache()`, with its unpersist registered on the innermost active
    * scope (plain cache when none is active). A plan the session already
    * caches is returned as it is and registers nothing: the cache manager
    * matches by plan, so an unpersist here would drop the caller's entry.
    * (`storageLevel` is the cache manager's lookup of `df`'s plan.)
    */
  private[graft] def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val c = df.cache()
      onExit(c.unpersist(blocking = false))
      c
    }

  /** Register arbitrary cleanup with the innermost active scope — used by
    * [[Clusters]] to free the RETURNED localCheckpoint frames' RDD blocks
    * (which `Dataset.unpersist` cannot reach and which otherwise accrete
    * one checkpoint per loop invocation). No-op when no scope is active.
    */
  private[graft] def onExit(cleanup: => Unit): Unit =
    Option(active.get()).foreach(_ += (() => cleanup))

  /** Run `body` (which must MATERIALIZE everything it needs — results are
    * lazy and the caches die at scope exit), then unpersist every frame
    * the library cached inside it, last cached first: a cache goes before
    * the caches its plan reads, so no release re-plans a cache still
    * registered. `Dataset.unpersist` also drops the cache-manager entry,
    * so a long-running loop does not accrete plan metadata either. Other
    * session caches, and plans the caller cached, are untouched.
    */
  def withScope[T](body: => T): T = {
    val outer = active.get()
    val buf = scala.collection.mutable.Buffer.empty[() => Unit]
    active.set(buf)
    try body
    finally {
      active.set(outer)
      buf.reverseIterator.foreach { cleanup =>
        try cleanup()
        catch { case _: Throwable => () }
      }
    }
  }
}
