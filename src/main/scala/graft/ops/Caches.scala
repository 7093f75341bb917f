package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CacheSession
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for persisted operator intermediates.
  *
  * Several operators (LSH band rows, IVF assignments) persist() a plan
  * that is consumed more than once inside the operator's own output
  * plan. `Dataset.persist` registers the plan in Spark's CacheManager,
  * which holds a strong reference until someone unpersists — but the
  * operator cannot unpersist before the CALLER runs its action, and the
  * caller holds only the final DataFrame. Without a hook, every
  * invocation leaks a cache entry (old behavior relied on Bench's global
  * `clearCache()` between queries).
  *
  * [[lease]] persists and records the plan; [[releaseAll]] unpersists
  * everything leased so far. Callers run it after the consuming action:
  *
  * {{{
  *   val result = Dedup.minhashDedupKeepers(docs, "doc_id", "text")
  *   result.write.parquet(out)   // the action that uses the cache
  *   Caches.releaseAll()         // drop operator intermediates
  * }}}
  *
  * `releaseAll` is safe to call at any time — an unpersisted plan simply
  * recomputes — so a coarse per-query cadence (what Bench and Verify do)
  * is always correct.
  *
  * [[lease]] does not call `Dataset.persist`: Spark's cache path clones
  * the session on every persist, and each clone's stages compile their
  * generated code again (the codegen cache is per session class loader),
  * so a leased plan recompiled every stage on every query. `lease`
  * caches through one reused clone instead ([[CacheSession]]), rebuilt
  * only when the session or its confs change. Persist only through
  * `lease`; CachesGuardSpec fails on any other `.persist(`/`.cache()` in
  * `src/main`.
  */
object Caches {
  private val global = new ConcurrentLinkedQueue[DataFrame]()
  private val current = new ThreadLocal[ConcurrentLinkedQueue[DataFrame]] {
    override def initialValue(): ConcurrentLinkedQueue[DataFrame] = global
  }

  /** Persist `df` at `level` and register it for [[releaseAll]] (in the
    * innermost [[scoped]] block, if any; else the process-global
    * registry).
    */
  def lease(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    CacheSession.cache(df, level)
    current.get().add(df)
    df
  }

  private def drain(q: ConcurrentLinkedQueue[DataFrame]): Unit = {
    var df = q.poll()
    while (df != null) { df.unpersist(blocking = false); df = q.poll() }
  }

  /** Isolate this thread's leases: operators built inside `body` lease
    * into a scope-private registry that is fully released when the block
    * exits — so two pipelines sharing one JVM cannot release each
    * other's leases (a global `releaseAll` from a concurrent pipeline
    * only costs that pipeline a recompute, but the isolation removes
    * even that). Run the consuming ACTION inside the block; scopes nest.
    * Thread-scoped: build and run the pipeline on the same thread.
    */
  def scoped[A](body: => A): A = {
    val q = new ConcurrentLinkedQueue[DataFrame]()
    val prev = current.get()
    current.set(q)
    try body
    finally { current.set(prev); drain(q) }
  }

  /** Unpersist (non-blocking) every plan leased in the current scope and
    * clear its registry. Safe to call at any time — an unpersisted plan
    * simply recomputes — so a coarse per-query cadence (what Bench and
    * Verify do, outside any scope) is always correct.
    */
  def releaseAll(): Unit = drain(current.get())
}
